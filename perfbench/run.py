#!/usr/bin/env python3
"""graft benchmark: one command, three workloads, every metric by name.

    python3 perfbench/run.py --workload pipeline|dashboard|graph_iter \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the engine and the
harness (perfbench/build.sbt) and generates the input tables; later runs
reuse both while the sources are unchanged. Everything the benchmark writes
goes under .perfbench_work/ in the current directory.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
See perfbench/README.md for what each metric means.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".perfbench_work")
SF = 0.001           # input scale factor (see README: why not sf0.1)
DATA_SEED = 42       # the input tables are fixed; --seed drives requests
HEAP = "3g"          # heap limit only (no -Xms): the heap grows as far as the run needs
# Spark task slots: with the JIT, the collector and the dashboard's two
# clients beside them, two slots keep runnable threads within four cores
CORES = 2
RUN_LIMIT_S = 170    # the whole command stays under 180 s
TRACE_TOLERANCE = 0.05
# graph_iter runs by hand only: BENCHMARK.json does not list it (see README)
WORKLOADS = ("pipeline", "dashboard", "graph_iter")
# per-layer metrics only graph_iter produces, printed on its traced runs
# next to those BENCHMARK.json lists
GRAPH_ITER_ONLY = {"graph.cc_graphx_s": "s", "graph.cc_dataframe_s": "s",
                   "graph.pagerank_s": "s", "graph.label_propagation_s": "s",
                   "graph.closeness_s": "s", "graph.superstep_jobs": "count"}
# per-layer metrics of layers a workload does not exercise: reported as 0;
# any other per-layer metric a run does not produce fails the run
IDLE = {
    "pipeline": ("query.",),
    "dashboard": ("etl.", "sources.", "chem."),
    "graph_iter": ("etl.", "sources.", "chem.", "query."),
}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
JDK_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

# DuckDB mirror of the registry's scored similarity table (GraphTables'
# blocked candidates, parity = exact integer ratio, best = per-ligand max)
SIMILARITY_SQL = """
  WITH cand AS (SELECT p1.p_partkey AS pk, p2.p_partkey AS cog,
                       (100 - abs(p2.p_size - p1.p_size))::DOUBLE / 100::DOUBLE AS score
                FROM part p1 JOIN part p2
                  ON p2.p_brand = p1.p_brand AND p2.p_size // 10 = p1.p_size // 10),
       sim AS (SELECT score, CASE WHEN score = max(score) OVER (PARTITION BY pk)
                                  THEN 1 ELSE 0 END AS best FROM cand)
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(round(score * 100)) AS BIGINT) AS score_x100,
         CAST(sum(best) AS BIGINT) AS best FROM sim"""


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _sources():
    for base in ("src/main/scala", "perfbench/src"):
        top = os.path.join(ROOT, base)
        if not os.path.isdir(top):
            raise BenchError(f"missing source tree {base}")
        for dp, dn, fn in os.walk(top):
            dn.sort()
            for f in sorted(fn):
                yield os.path.join(dp, f)
    yield os.path.join(ROOT, "perfbench", "build.sbt")
    yield os.path.join(ROOT, "perfbench", "project", "build.properties")


def source_stamp():
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Compile engine + harness with sbt once per source state; returns the
    runtime classpath and the source stamp."""
    bdir = os.path.join(WORK, "build")
    stamp_f, cp_f = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_f) and os.path.exists(cp_f):
        with open(stamp_f) as a, open(cp_f) as b:
            if a.read() == stamp:
                return b.read(), stamp
    os.makedirs(bdir, exist_ok=True)
    sbt = shutil.which("sbt")
    if not sbt:
        raise BenchError("sbt not found on PATH")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log("building engine and harness with sbt")
    with open(os.path.join(bdir, "sbt.log"), "w") as lf:
        out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                         "export Runtime/fullClasspath"],
                        cwd=os.path.join(ROOT, "perfbench"), env=env, log=lf,
                        timeout=deadline - time.time(), capture=True)
    cps = [l for l in out.splitlines() if "scala-2.13" in l and os.pathsep in l]
    if not cps:
        raise BenchError("sbt build failed; see .perfbench_work/build/sbt.log")
    with open(cp_f, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_f, "w") as f:
        f.write(stamp)
    return cps[-1].strip(), stamp


def run_group(cmd, cwd, env, log, timeout, capture=False):
    """Run cmd in its own process group; kill the whole group on timeout
    and after exit, so no child (chem-bridge workers included) outlives
    it. Returns stdout when capture is set."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else log,
                         stderr=log, text=True)
    try:
        out, _ = p.communicate(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        _kill(p)
        raise BenchError(f"{cmd[0]} exceeded its time limit")
    finally:
        _kill(p)
    if capture:
        log.write(out)
    if p.returncode != 0:
        raise BenchError(f"{cmd[0]} exited with {p.returncode}")
    return out


def _kill(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except (ProcessLookupError, PermissionError):
        pass
    p.wait()


# ---------------------------------------------------------------- inputs

def ensure_data(sf):
    d = os.path.join(WORK, "data", f"sf{sf}_seed{DATA_SEED}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True  # nothing written under perfbench/
    import datagen
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    datagen.generate(tmp, sf, DATA_SEED)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d


# ---------------------------------------------------------------- JVM run

def run_jvm(cp, data, work, args, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = shutil.which("java")
    if not java:
        raise BenchError("java not found on PATH")
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    out = os.path.join(work, "result.json")
    cmd = [java, f"-Xmx{HEAP}", *opens, f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
           "--data", data, "--work", work, "--out", out, *args]
    jlog = os.path.join(work, "jvm.log")
    try:
        with open(jlog, "w") as lf:
            run_group(cmd, cwd=ROOT, env=dict(os.environ), log=lf,
                      timeout=deadline - time.time())
    finally:  # the harness's own progress lines, not Spark's logging
        with open(jlog, errors="replace") as lf:
            for line in lf:
                if line.startswith("[perfbench]"):
                    sys.stderr.write(line)
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- oracles

class Oracles:
    """DuckDB over the generated tables; results cached per (sql, data)."""

    def __init__(self, data):
        import duckdb
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        self.cache = os.path.join(WORK, "oracle_cache")
        os.makedirs(self.cache, exist_ok=True)
        self.data = data

    def df(self, sql):
        import pandas as pd
        key = hashlib.sha256((self.data + "\0" + sql).encode()).hexdigest()[:24]
        f = os.path.join(self.cache, key + ".pkl")
        if os.path.exists(f):
            return pd.read_pickle(f)
        d = self.con.execute(sql).fetchdf()
        d.to_pickle(f + ".tmp")
        os.replace(f + ".tmp", f)
        return d


def compare(spark_dir, duck_df, cap=None):
    """None when the Spark parquet output equals the oracle (columns by
    name, rows sorted, exact values and dtypes), else a reason. With `cap`,
    the output is the first `cap` rows in order of all its columns, and is
    compared with the oracle's first `cap` rows in that order."""
    import pandas as pd
    files = sorted(glob.glob(os.path.join(spark_dir, "*.parquet")))
    if not files:
        return "no output"
    s = pd.concat([pd.read_parquet(f) for f in files])
    if cap is not None and len(duck_df) > cap and set(duck_df.columns) == set(s.columns):
        duck_df = duck_df.sort_values(list(s.columns), na_position="first").head(cap)
    s = s.reindex(sorted(s.columns), axis=1)
    d = duck_df.reindex(sorted(duck_df.columns), axis=1)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} vs {list(d.columns)}"
    if len(s) != len(d):
        return f"rows {len(s)} vs {len(d)}"
    s = s.sort_values(list(s.columns)).reset_index(drop=True)
    d = d.sort_values(list(d.columns)).reset_index(drop=True)
    for c in s.columns:
        if str(s[c].dtype) != str(d[c].dtype):
            return f"dtype {c}: {s[c].dtype} vs {d[c].dtype}"
        neq = ~((s[c] == d[c]) | (s[c].isna() & d[c].isna()))
        if neq.any():
            return f"{int(neq.sum())} values differ in {c}"
    return None


def check_pipeline(res, orc):
    """Returns (failed operations, problems)."""
    oracles, checks = res["checks"].pop("oracles"), res["checks"]
    inv = orc.df(oracles["etl3_export_inventory"])
    want_counts = {r.file: int(r.n) for r in inv.itertuples()}
    want_contacts = len(orc.df(oracles["etl1_contacts_stage"]))
    sim = orc.df(SIMILARITY_SQL).iloc[0]
    want_sim = {k: int(sim[k]) for k in ("n", "score_x100", "best")}
    failed, problems = 0, []
    for k, v in checks.items():
        bad = None
        if k.startswith("export_counts_") and v != want_counts:
            bad = {f: (v.get(f), n) for f, n in want_counts.items() if v.get(f) != n}
        elif k.startswith("contacts_rows_") and v != want_contacts:
            bad = (v, want_contacts)
        elif k.startswith("similarity_") and v != want_sim:
            bad = (v, want_sim)
        if bad is not None:
            failed += 1
            problems.append(f"{k}: {bad}")
    return failed, problems


def check_graph(res, orc):
    oracles, checks = res["checks"].pop("oracles"), res["checks"]
    failed, problems = 0, []
    for k, d in checks.items():
        for name, sql in oracles.items():
            why = compare(os.path.join(d, name), orc.df(sql))
            if why:
                failed += 1
                problems.append(f"{k}/{name}: {why}")
        shutil.rmtree(d, ignore_errors=True)
    return failed, problems


def check_dashboard(res, orc):
    """Fixed-point responses against their oracles, the rows_read unit
    probe, and one digest per (query, params) within the run and across
    runs on this data. Each failing key's requests count once."""
    oracles, checks = res["checks"].pop("oracles"), res["checks"]
    digests = checks["digests"]
    bad, problems = set(), []
    for name, c in checks["fixed"].items():
        why = compare(c["path"], orc.df(oracles[name]), cap=c["cap"])
        if why:
            bad.add(c["key"])
            problems.append(f"{name}: {why}")
    if not checks.get("rows_read_unit_ok", False):
        problems.append("rows_read counts cached batches, not rows")
    state = os.path.join(WORK, "state", f"dash_digests_{os.path.basename(orc.data)}.json")
    os.makedirs(os.path.dirname(state), exist_ok=True)
    seen = json.load(open(state)) if os.path.exists(state) else {}
    for key, d in digests.items():
        if d["consistent"] is not True:
            bad.add(key)
            problems.append(f"{key}: responses differ within the run")
        if seen.setdefault(key, d["digest"]) != d["digest"]:
            bad.add(key)
            problems.append(f"{key}: digest changed across runs")
    with open(state + ".tmp", "w") as f:
        json.dump(seen, f)
    os.replace(state + ".tmp", state)
    return sum(digests[k]["n"] for k in bad), problems


CHECKERS = {"pipeline": check_pipeline, "dashboard": check_dashboard,
            "graph_iter": check_graph}


# ---------------------------------------------------------------- traces

def trace_metrics(spans_file):
    """Per-layer self time inside measured operations (spans of layer "op":
    a pipeline iteration, a graph pass, a dashboard request). A span's self
    time is its duration minus the union of its children's intervals; the
    layers' self times plus the operations' own unattributed self time
    equal the operations' wall time."""
    spans = [json.loads(l) for l in open(spans_file)] if os.path.exists(spans_file) else []
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def self_time(s):
        iv = sorted((max(k["start_ns"], s["start_ns"]), min(k["end_ns"], s["end_ns"]))
                    for k in kids.get(s["id"], []))
        cov, cur = 0, None
        for a, b in iv:
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    cov += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            cov += cur[1] - cur[0]
        return (s["end_ns"] - s["start_ns"] - cov) / 1e9

    ops = [s for s in spans if s["layer"] == "op"]
    wall = sum(s["end_ns"] - s["start_ns"] for s in ops) / 1e9
    layers = {l: 0.0 for l in ("etl", "chem", "graph", "query", "plans", "spark")}
    stack = [k for op in ops for k in kids.get(op["id"], [])]
    while stack:
        s = stack.pop()
        layers[s["layer"]] = layers.get(s["layer"], 0.0) + self_time(s)
        stack.extend(kids.get(s["id"], []))
    unattributed = sum(self_time(op) for op in ops) / wall if wall else 1.0
    m = {f"trace.self_s.{l}": v for l, v in layers.items()}
    m["trace.op_wall_s"] = wall
    m["trace.unattributed_frac"] = unattributed
    m["trace.reconciled"] = 1.0 if wall and unattributed <= TRACE_TOLERANCE else 0.0
    return m


def untraced_history(workload, stamp, seconds, value=None):
    """Latency p50s of this checkout's untraced runs of the same sources
    and window (for tracing overhead)."""
    f = os.path.join(WORK, "state", f"untraced_{workload}_{stamp[:16]}_{seconds:g}s.json")
    hist = json.load(open(f)) if os.path.exists(f) else []
    if value is not None:
        hist.append(value)
        os.makedirs(os.path.dirname(f), exist_ok=True)
        with open(f + ".tmp", "w") as fh:
            json.dump(hist[-50:], fh)
        os.replace(f + ".tmp", f)
    return hist


# ---------------------------------------------------------------- main

def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def one_run(workload, seed, seconds, trace, sf=SF, cores=None, extra=()):
    deadline = time.time() + RUN_LIMIT_S
    e2e, layer = load_spec()
    if workload == "graph_iter":
        layer |= GRAPH_ITER_ONLY
    cp, stamp = build(deadline)
    data = ensure_data(sf)
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", *extra]
    args += ["--cores", str(cores or CORES)]
    t0 = time.time()
    res = run_jvm(cp, data, work, args, deadline)
    t1 = time.time()
    failed, problems = CHECKERS[workload](res, Oracles(data))
    log(f"{workload}: jvm {t1 - t0:.1f} s, checks {time.time() - t1:.1f} s")
    for p in problems:
        log(f"check failed: {p}")
    m = res["metrics"]
    attempted, failed = res["attempted"], res["failed"] + failed
    m["ok_frac"] = 1.0 - failed / attempted if attempted else 0.0
    if trace:
        m.update(trace_metrics(os.path.join(work, "spans.jsonl")))
        hist = untraced_history(workload, stamp, seconds)
        m["trace.overhead_frac"] = (m["latency_p50_ms"] / statistics.median(hist) - 1.0
                                    if hist else 0.0)
        m = {k: 0.0 for k in layer if k.startswith(IDLE[workload])} | m
    else:
        untraced_history(workload, stamp, seconds, m["latency_p50_ms"])
    want = layer if trace else e2e
    missing = [k for k in want if k not in m]
    if missing:
        raise BenchError(f"metrics missing from the run: {missing}")
    shutil.rmtree(work, ignore_errors=True)
    return {"correct": not problems, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": m[k], "unit": u} for k, u in want.items()}}, m


def selftest():
    """Core-count invariance: at sf0.001, every count of work and output the
    benchmark reports must be identical at 2 and at 4 cores.

    Rows read by the dashboard's scans is the one count allowed to differ,
    and is printed for information: cached-batch min/max pruning and join
    sides that are never pulled for an empty partition skip rows depending
    on how rows fall into partitions. Its unit is checked instead: every
    dashboard run scans one cached table in full and requires rows read to
    equal the table's row count (a count of cached batches would not)."""
    strict = {
        "pipeline": ["count.contacts_rows", "chem.pairs", "sources.files_written",
                     "sources.raw_bytes", "sources.rows_written", "etl.export_jobs"],
        "dashboard": ["count.dash.rows_returned", "count.dash.jobs"],
        "graph_iter": ["graph.superstep_jobs"],
    }
    info = {"dashboard": ["count.dash.rows_read"]}
    ok = True
    for w in WORKLOADS:
        runs = {}
        for cores in (2, 4):
            out, m = one_run(w, 1, 1, True, sf=0.001, cores=cores,
                             extra=("--requests", "80"))
            runs[cores] = m
            ok &= out["correct"] and out["failed"] == 0
        for k in strict[w] + info.get(w, []):
            same = runs[2][k] == runs[4][k]
            tag = "info" if k in info.get(w, []) else ("ok  " if same else "FAIL")
            ok &= same or tag == "info"
            print(f"{tag} {w} {k}: 2 cores {runs[2][k]}, 4 cores {runs[4][k]}")
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    try:
        if a.selftest:
            return selftest()
        if not a.workload:
            ap.error("--workload is required")
        out, _ = one_run(a.workload, a.seed, a.seconds, a.trace == 1)
    except (BenchError, OSError, KeyError, ValueError) as e:
        log(f"error: {e}")
        return 2
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
