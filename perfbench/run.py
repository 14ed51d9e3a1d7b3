#!/usr/bin/env python3
"""Layered benchmark of the graft engine over two workloads.

Run from the repository root:

    python3 perfbench/run.py --workload catalog_driver --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the engine and the harness with sbt
(offline) and derives the catalog oracle fingerprints with DuckDB; later
runs reuse both.  Each run generates its inputs from the seed, runs the
workload in one JVM (perfbench.Main), checks the outputs, writes a full
artifact under .perfbench/artifacts/ and prints one JSON line: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
CATALOG_SEED = 42   # the catalog corpus is fixed; the run seed orders queries
DOC_SEED = 4242     # fixture-family texts the news generator excerpts
JVM_TIMEOUT_S = 165

WORKLOADS = {
    "catalog_driver": {
        "kind": "catalog", "sf": 0.01, "min_passes": 2,
        "queries": ["q91_clusters_altcc"],
    },
    "news_pipeline": {"kind": "news", "records": 30_000},
}
# Queries whose frame construction runs the connected-components fixpoint
# (ops.ConnectedComponents), for ops.cc_jobs.
CC_CONSUMERS = {
    "q67_neardup_clusters", "q91_clusters_altcc", "q126_corpus_clean",
    "q133_dedup_by_source", "q134_cluster_histogram", "q147_split_leakage",
    "q161_dedup_keeper", "q171_training_funnel", "q196_cluster_separation"}
DASHBOARD_KINDS = ("sentiment_trend", "category_mix", "sentiment_by_category",
                   "latest_negative")
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --- build ------------------------------------------------------------------

def source_files():
    pats = ["build.sbt", "project/*.sbt", "project/*.scala", "project/build.properties",
            "src/main/**/*"]
    files = [f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True)]
    files += glob.glob(os.path.join(HERE, "harness", "**", "*"), recursive=True)
    return sorted(f for f in files if os.path.isfile(f) and "/target/" not in f)


def tree_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the sources are unchanged
    since the last build in this checkout; return (classpath, source hash)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("run from the root of a repository checkout (build.sbt and src/ missing)")
        sys.exit(2)
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(HERE, "harness", "target", "classpath.txt")
    digest = tree_hash(source_files())
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip(), digest
    log("building engine and harness with sbt (first run in this checkout)")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
            cwd=os.path.join(HERE, "harness"), env=env, stdout=out,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL).returncode
    if rc != 0 or not os.path.isfile(cp_file):
        log(f"build failed (rc={rc}); see {WORK}/build.log")
        sys.exit(3)
    with open(stamp_file, "w") as f:
        f.write(digest)
    with open(cp_file) as g:
        return g.read().strip(), digest


# --- inputs -----------------------------------------------------------------

def dashboard_statements(seed, n=400):
    """Dashboard SQL over enriched_news, parameters drawn from the seed."""
    from inputs import CATEGORIES, YEARS
    rng = random.Random(seed * 7919 + 17)
    out = []
    for i in range(n):
        kind = DASHBOARD_KINDS[i % len(DASHBOARD_KINDS)]
        a = rng.randint(YEARS[0], YEARS[1])
        b = rng.randint(a, min(a + 3, YEARS[1]))
        if kind == "sentiment_trend":
            sql = ("SELECT publish_year, month(publish_date) AS month, sentiment_llm, "
                   "COUNT(*) AS n FROM enriched_news "
                   f"WHERE publish_year BETWEEN {a} AND {b} "
                   "GROUP BY publish_year, month(publish_date), sentiment_llm")
        elif kind == "category_mix":
            sql = ("SELECT category_llm, COUNT(*) AS n FROM enriched_news "
                   f"WHERE publish_year = {a} GROUP BY category_llm")
        elif kind == "sentiment_by_category":
            sql = ("SELECT category, sentiment_llm, COUNT(*) AS n FROM enriched_news "
                   f"WHERE publish_year BETWEEN {a} AND {b} GROUP BY category, sentiment_llm")
        else:
            sql = ("SELECT id_news, title, market_impact_summary FROM enriched_news "
                   f"WHERE sentiment_llm = 'Negative' AND category = '{rng.choice(CATEGORIES)}' "
                   f"AND publish_year >= {a} ORDER BY publish_date DESC, id_news DESC LIMIT 10")
        out.append({"id": f"s{i}", "kind": kind, "sql": sql})
    return out


def make_inputs(spec, seed, run_dir):
    """Generate the run's inputs; return (plan section, input facts,
    generation time)."""
    import numpy as np
    import inputs
    t0 = time.perf_counter()
    if spec["kind"] == "catalog":
        data = os.path.join(run_dir, "catalog")
        os.makedirs(data, exist_ok=True)
        rows = inputs.write_catalog(data, spec["sf"], CATALOG_SEED)
        facts = {"sf": spec["sf"], "rows": rows, "bytes": sum(
            os.path.getsize(f) for f in glob.glob(f"{data}/*.parquet"))}
        section = {"catalog": {"data": data, "queries": spec["queries"]}}
    else:
        texts = inputs.doc_texts(5000, np.random.default_rng(DOC_SEED))
        jsonl = os.path.join(run_dir, "news.jsonl")
        truth = inputs.write_news(jsonl, spec["records"], seed, texts)
        facts = {"rows": spec["records"], "bytes": truth["bytes"], "truth": truth}
        section = {"news": {
            "jsonl": jsonl, "cuts": truth["outcome_cuts"],
            "statements": dashboard_statements(seed), "min_statements": 100,
            "warm_statements": 4}}
    return section, facts, time.perf_counter() - t0


# --- checks -----------------------------------------------------------------

def canon_value(v):
    """Order-free canonical text of one value, equal exactly when
    tools/local_verify.py's comparison calls the values equal (numbers
    compare by exact value whatever their type; doubles bitwise)."""
    from fractions import Fraction
    import math
    if v is None:
        return "null"
    if isinstance(v, (bool, int, float)) or type(v).__name__ == "Decimal":
        if isinstance(v, float) and not math.isfinite(v):
            return f"f:{v}"
        return f"n:{Fraction(v)}"
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, bytes):
        return "b:" + v.hex()
    if isinstance(v, (list, tuple)):
        return "l:[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "d:{" + ",".join(f"{k}={canon_value(x)}" for k, x in sorted(v.items())) + "}"
    return f"{type(v).__name__}:{v.isoformat() if hasattr(v, 'isoformat') else v}"


def fingerprint(columns, rows):
    """(row count, order-independent hash) with columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(("\x1e".join(columns[i] for i in order) + "\x1d").encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return [len(lines), h.hexdigest()[:32]]


def duck():
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET temp_directory='{WORK}/duckdb_tmp'")
    return con


def rel_fingerprint(con, sql):
    rel = con.sql(sql)
    return fingerprint(rel.columns, rel.fetchall())


def oracle_fingerprints(names, oracle_sql, data_dir, sf):
    """DuckDB oracle fingerprints for the fixed catalog corpus, derived once
    per checkout and cached by (generator source, scale, SQL)."""
    import inputs
    cache_file = os.path.join(WORK, "oracle_cache.json")
    cache = json.load(open(cache_file)) if os.path.isfile(cache_file) else {}
    with open(inputs.__file__, "rb") as f:
        gen = hashlib.sha256(f.read()).hexdigest()
    out, con = {}, None
    for n in names:
        key = hashlib.sha256(f"{gen}|{sf}|{CATALOG_SEED}|{oracle_sql[n]}".encode()).hexdigest()
        if key not in cache:
            if con is None:
                con = duck()
                for p in glob.glob(f"{data_dir}/*.parquet"):
                    t = os.path.basename(p)[:-len(".parquet")]
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            t0 = time.perf_counter()
            cache[key] = rel_fingerprint(con, oracle_sql[n])
            log(f"oracle {n}: {cache[key][0]} rows in {time.perf_counter() - t0:.1f}s")
        out[n] = cache[key]
    with open(cache_file, "w") as f:
        json.dump(cache, f)
    return out


def check_catalog(result, facts, data_dir, failures):
    names = result["catalog_queries"]
    oracle = oracle_fingerprints(names, result["oracle_sql"], data_dir, facts["sf"])
    con = duck()
    per_check = []
    for chk in result["checks"]:
        fps = {}
        for n in names:
            path = os.path.join(chk["dir"], n)
            if not glob.glob(f"{path}/*.parquet"):
                continue  # the check query threw; already counted
            fps[n] = rel_fingerprint(con, f"SELECT * FROM '{path}/*.parquet'")
            if fps[n] != oracle[n]:
                failures.append({"phase": "check", "name": n, "error":
                                 f"fingerprint {fps[n]} != oracle {oracle[n]}"})
        per_check.append(fps)
    return per_check


def answers_equal(spark_rows, duck_rows, ordered):
    a = [[canon_value(v) for v in r] for r in spark_rows]
    b = [[canon_value(v) for v in r] for r in duck_rows]
    return a == b if ordered else sorted(a) == sorted(b)


def check_news(result, facts, statements, failures, known):
    out = result.get("outputs") or {}
    truth = facts["truth"]
    if not out:
        failures.append({"phase": "check", "name": "news_pipeline", "error": "no batch output"})
        return

    def expect(name, got, want):
        if got != want:
            failures.append({"phase": "check", "name": name, "error": f"got {got}, planted {want}"})

    expect("clean_rows", out["clean_rows"], truth["clean"])
    expect("enriched_rows", out["enriched_rows"], truth["clean"])
    planted = truth["outcomes"]
    expect("transport_calls", out["transport"], planted)
    got = out["enrich_outcomes"]
    expect("enrich_ok", got.get("ok", 0), planted["ok"])
    expect("enrich_na", got.get("na", 0), planted["missing_keys"])
    expect("enrich_error", got.get("error", 0), planted["malformed"] + planted["thrown"])
    verdicts = out["verdicts"]
    expect("verdict_rows", sum(verdicts.values()), truth["clean"])
    expect("exact_dup", verdicts.get("exact_dup", 0), truth["exact_dup"])
    dropped = verdicts.get("exact_dup", 0) + verdicts.get("near_dup", 0)
    if dropped < truth["exact_dup"] + truth["near_dup"]:
        failures.append({"phase": "check", "name": "near_dup", "error":
                         f"{dropped} dropped < {truth['exact_dup'] + truth['near_dup']} planted"})
    if verdicts.get("kept", 0) != truth["planted_kept"]:
        known.append({"name": "dedup_kept", "error":
                      f"corpusClean keeps {verdicts.get('kept', 0)} of {truth['clean']}, "
                      f"planted {truth['planted_kept']} unique (unverified single-band "
                      "SimHash match; standing defect, not counted as a failure)"})
    expect("published_per_year", out["published_per_year"], truth["per_year"])
    con = duck()
    con.execute("CREATE VIEW enriched_news AS SELECT * FROM read_parquet("
                f"'{out['published_dir']}/*/*.parquet', hive_partitioning=true)")
    by_id = {s["id"]: s for s in statements}
    for ans in out["answers"]:
        s = by_id[ans["id"]]
        if not answers_equal(ans["rows"], con.sql(s["sql"]).fetchall(),
                             s["kind"] == "latest_negative"):
            failures.append({"phase": "check", "name": ans["id"],
                             "error": f"dashboard answer differs from DuckDB: {s['sql']}"})


# --- metrics ----------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


class Spans:
    def __init__(self, spans):
        self.by_id = {s["id"]: s for s in spans}
        self.children = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s)

    def dur(self, s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def subtree(self, s):
        yield s
        for c in self.children.get(s["id"], []):
            yield from self.subtree(c)

    def total(self, spans, key):
        return sum(x["counters"][key] for s in spans for x in self.subtree(s))

    def self_time(self, s):
        return self.dur(s) - sum(self.dur(c) for c in self.children.get(s["id"], []))

    def of(self, kind, within=None):
        pool = self.by_id.values() if within is None else [
            x for w in within for x in self.subtree(w)]
        return [s for s in pool if s["kind"] == kind]


def per_op(samples, key, value, traced):
    """Median of each operation's successful samples with the given
    tracing state."""
    groups = {}
    for x in samples:
        if x["ok"] and x["traced"] == traced:
            groups.setdefault(x[key], []).append(x[value])
    return {k: median(v) for k, v in groups.items()}


def ratio(a, b):
    return a / b if b else 0.0


def end_to_end(spec, result, facts, gen_s):
    setup_s = gen_s + result["jvm_boot_s"] + result["session_start_s"] + result["warmup_s"]
    sp = Spans(result["spans"])
    passes = sp.of("pass")
    # pass_s: the first pass, in the fresh JVM. op latency: quantiles over
    # the untraced operation samples after it (catalog: the query runs of
    # the later passes; news: the dashboard statements)
    if spec["kind"] == "catalog":
        first = [x for x in result["samples"] if x["pass"] == 0]
        pass_s = sum(x["wall_s"] for x in first) if all(x["ok"] for x in first) else 0.0
        ops_ms = [x["wall_s"] * 1e3 for x in result["samples"]
                  if x["pass"] > 0 and x["ok"] and not x["traced"]]
    else:
        first = result["passes"][0]
        pass_s = first["wall_s"] if first["ok"] else 0.0
        ops_ms = [x["ms"] for x in result["samples"] if x["ok"] and not x["traced"]]
    written = (sp.total(passes, "shuffle_write") + sp.total(passes, "output_bytes"))
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
        "op_p50_ms": (quantile(ops_ms, 0.5), "ms"),
        "op_p90_ms": (quantile(ops_ms, 0.9), "ms"),
        "write_amp": (ratio(written, len(passes) * facts["bytes"]), "ratio"),
        "heap_peak_mb": (max(result["heap_mb"] or [0.0]), "MB"),
    }, len(ops_ms)


def per_layer(spec, result, facts, gen_s):
    sp = Spans(result["spans"])
    nproc = result["provenance"]["nproc"]
    m = {}
    passes = sp.of("pass")
    traced = [p for p in passes if sp.of("query", [p]) or sp.of("stage", [p])]
    n = max(1, len(traced))
    per = lambda key: sp.total(traced, key) / n  # noqa: E731
    wall = sum(sp.dur(p) for p in traced) / n
    builds = sp.of("build", traced)
    m["queries.build_s"] = (sum(sp.dur(b) for b in builds) / n, "s")
    m["queries.build_jobs"] = (sp.total(builds, "jobs") / n, "count")
    cc = ([b for b in builds if b["name"] in CC_CONSUMERS] if spec["kind"] == "catalog"
          else [s for s in sp.of("stage", traced) if s["name"] == "dedup"])
    m["ops.cc_jobs"] = (sp.total(cc, "jobs") / n, "count")
    ops = sp.of("query", traced) + sp.of("statement")
    m["catalyst.plan_ms"] = (ratio(sp.total(ops, "plan_ms"), len(ops)), "ms")
    m["scheduler.jobs"] = (per("jobs"), "count")
    m["scheduler.stages"] = (per("stages"), "count")
    m["scheduler.tasks"] = (per("tasks"), "count")
    m["scheduler.tasks_per_stage"] = (ratio(per("tasks"), per("stages")), "count")
    m["executor.run_s"] = (per("run_ms") / 1e3, "s")
    m["executor.cpu_s"] = (per("cpu_ns") / 1e9, "s")
    m["executor.busy_frac"] = (ratio(per("run_ms") / 1e3, wall * nproc), "ratio")
    m["executor.gc_s"] = (per("gc_ms") / 1e3, "s")
    m["executor.shuffle_read_mb"] = (per("shuffle_read") / 2**20, "MB")
    m["executor.shuffle_write_mb"] = (per("shuffle_write") / 2**20, "MB")
    m["executor.spill_mb"] = (per("spill") / 2**20, "MB")
    stages = {name: [s for s in sp.of("stage", traced) if s["name"] == name]
              for name in ("clean", "enrich", "dedup", "publish")}
    st = {k: sum(sp.dur(s) for s in v) / n for k, v in stages.items()}
    out = result.get("outputs") or {}
    truth = facts.get("truth", {})
    calls = sum((out.get("transport") or {}).values())
    m["etl.clean_s"] = (st["clean"], "s")
    m["etl.clean_kept_frac"] = (ratio(out.get("clean_rows", 0), truth.get("raw", 0)), "ratio")
    m["etl.enrich_s"] = (st["enrich"], "s")
    m["etl.enrich_calls"] = (calls, "count")
    m["etl.enrich_ok_frac"] = (ratio((out.get("transport") or {}).get("ok", 0), calls), "ratio")
    m["etl.publish_s"] = (st["publish"], "s")
    m["etl.bytes_written_mb"] = (per("output_bytes") / 2**20, "MB")
    verdicts = out.get("verdicts") or {}
    m["dedup.corpus_clean_s"] = (st["dedup"], "s")
    m["dedup.kept_frac"] = (ratio(verdicts.get("kept", 0), sum(verdicts.values())), "ratio")
    m["dedup.planted_kept_frac"] = (ratio(truth.get("planted_kept", 0), truth.get("clean", 0)),
                                    "ratio")
    stmts = sp.of("statement")
    m["sql.partitions_read_frac"] = (ratio(sp.total(stmts, "partitions_read"),
                                           len(stmts) * out.get("published_partitions", 0)),
                                     "ratio")
    m["sql.rows_scanned"] = (ratio(sp.total(stmts, "scan_rows"), len(stmts)), "count")
    for kind in ("pass", "query", "build", "execute", "stage"):
        m[f"self.{kind}_s"] = (sum(sp.self_time(s) for s in sp.of(kind, traced)) / n, "s")
    m["self.statement_ms"] = (ratio(sum(sp.dur(s) for s in stmts) * 1e3, len(stmts)), "ms")
    m["setup.inputs_s"] = (gen_s, "s")
    m["setup.session_s"] = (result["jvm_boot_s"] + result["session_start_s"], "s")
    m["setup.warmup_s"] = (result["warmup_s"], "s")
    # tracing overhead: traced minus untraced passes of this run, the
    # first pass (pass 0, cold) left out
    if spec["kind"] == "catalog":
        after = [x for x in result["samples"] if x["pass"] > 0]
        on, off = (sum(per_op(after, "name", "wall_s", flag).values()) for flag in (True, False))
    else:
        on, off = (median([p["wall_s"] for p in result["passes"][1:]
                           if p["ok"] and p["traced"] == flag]) for flag in (True, False))
    m["trace.overhead_s"] = (on - off, "s")
    m["trace.overhead_frac"] = (ratio(on - off, off), "ratio")
    return m


def order_report(result, per_check):
    """Queries of a traced run whose result differs between the two check
    passes (the seed's order, then its reverse), and, for reading only,
    each query's stage count in the traced passes of either order."""
    if len(per_check) < 2:
        return [], {}
    sp = Spans(result["spans"])
    order_of = {p["name"]: int(p["name"][len("pass"):]) % 2 for p in sp.of("pass")}
    stages = {}
    for q in sp.of("query"):
        pass_name = sp.by_id[q["parent"]]["name"]
        stages.setdefault(q["name"], {}).setdefault(f"order{order_of[pass_name]}", []).append(
            sp.total([q], "stages"))
    unstable = [{"name": n, "fingerprints": [c.get(n) for c in per_check]}
                for n in result["catalog_queries"] if per_check[0].get(n) != per_check[1].get(n)]
    return unstable, stages


# --- main -------------------------------------------------------------------

def cpu_times():
    """The host's aggregate CPU times (the `cpu` line of /proc/stat), or
    None where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_frac(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_times() readings (field 8 of the cpu line is steal)."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return ratio(d[7], sum(d[:8]))


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.perf_counter()
    spec = WORKLOADS[args.workload]
    sys.path.insert(0, HERE)
    os.makedirs(WORK, exist_ok=True)
    classpath, src_hash = build()

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "duckdb_tmp"):
        os.makedirs(os.path.join(run_dir if d == "tmp" else WORK, d), exist_ok=True)
    section, facts, gen_s = make_inputs(spec, args.seed, run_dir)
    cpus = str(len(os.sched_getaffinity(0)))
    # a traced run follows the first pass with untraced, traced and
    # untraced passes (U T U) and runs fewer dashboard statements, half of
    # them traced
    plan = dict(section, workload=args.workload, seed=args.seed, seconds=args.seconds,
                trace=bool(args.trace), cpus=cpus, work=run_dir)
    if spec["kind"] == "catalog":
        plan["min_passes"] = 3 if args.trace else spec["min_passes"]
    else:
        plan["news"]["batch_passes"] = 4 if args.trace else 1
        if args.trace:
            plan["news"]["min_statements"] = 40
    plan_file, result_file = (os.path.join(run_dir, f) for f in ("plan.json", "result.json"))
    with open(plan_file, "w") as f:
        json.dump(plan, f)
    xmx = "-Xmx4g"
    cmd = (["java", xmx, "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", plan_file, result_file])
    cpu0 = cpu_times()
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=jlog, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log(f"workload exceeded {JVM_TIMEOUT_S}s; see {run_dir}/jvm.log")
            sys.exit(4)
    if rc != 0 or not os.path.isfile(result_file):
        log(f"JVM exited with {rc}; see {run_dir}/jvm.log")
        sys.exit(4)
    steal = steal_frac(cpu0, cpu_times())
    with open(result_file) as f:
        result = json.load(f)

    failures = list(result["failures"])
    known = []
    unstable, order_stages = [], {}
    if spec["kind"] == "catalog":
        per_check = check_catalog(result, facts, section["catalog"]["data"], failures)
        unstable, order_stages = order_report(result, per_check)
        attempted = len(spec["queries"]) * len(result["checks"]) + len(result["samples"])
    else:
        check_news(result, facts, section["news"]["statements"], failures, known)
        attempted = (section["news"]["warm_statements"] + len(result["passes"])
                     + len(result["samples"])
                     + len((result.get("outputs") or {}).get("answers", [])) + 9)
    for k in known:
        log(f"known defect: {k['name']}: {k['error']}")
    for f in failures:
        log(f"FAILED {f['phase']} {f['name']}: {f['error']}")

    if args.trace:
        metrics = per_layer(spec, result, facts, gen_s)
        metrics["order.unstable_queries"] = (len(unstable), "count")
        n_ops = None
    else:
        metrics, n_ops = end_to_end(spec, result, facts, gen_s)
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "provenance": dict(result["provenance"], git_commit=git_commit(),
                           source_sha256=src_hash, seed=args.seed, cpus=int(cpus),
                           host_steal_frac=steal,
                           input=dict((k, v) for k, v in facts.items() if k != "truth"),
                           membership=spec.get("queries") or ["clean", "enrich", "dedup",
                                                              "publish"] + list(DASHBOARD_KINDS)),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "op_samples": n_ops,
        "failures": failures, "known_defects": known, "order_unstable": unstable,
        "order_stages": order_stages,
        "setup": {"inputs_s": gen_s, "jvm_boot_s": result["jvm_boot_s"],
                  "session_start_s": result["session_start_s"], "warmup_s": result["warmup_s"],
                  "run_wall_s": time.perf_counter() - started},
        "planted": facts.get("truth"),
        "samples": result["samples"], "passes": result["passes"],
        "spans": result["spans"] if args.trace else [],
    }
    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
    art = os.path.join(WORK, "artifacts", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(art, "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    log(f"artifact: {art}")
    if steal is not None:
        log(f"CPU steal during the run: {steal:.1%} of host CPU time")
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": artifact["metrics"]}))


if __name__ == "__main__":
    main()
