#!/usr/bin/env python3
"""The repository benchmark: one workload run, one JSON result line.

    python3 perfbench/run.py --workload subset|llm_corpus|sql_mix \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles `src/main/scala`
plus `perfbench/scala` with the Scala compiler in the Spark jars
($SPARK_HOME/jars, else build.sbt's unmanagedBase) and
writes the GenData rungs; everything lands under `.bench_build/perfbench`.
Each run then starts one JVM (`local[nproc]`, one caller, closed loop),
resets the program's persisted state, measures for S seconds and checks
the outputs. The last stdout line is

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with the end-to-end metrics of BENCHMARK.json (trace 0) or its per-layer
metrics (trace 1). The full record of the run, provenance included, is
written to `.bench_build/perfbench/results/` and printed on the line
before. `--record-expected` recomputes `expected/sql_mix.json` after
confirming each oracle key's output against DuckDB.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(BUILD, "data")
# a run ends within 3 minutes; the first run in a checkout, which also
# compiles and generates the inputs, within 15
DEADLINE_S = 170
FIRST_DEADLINE_S = 880
# a run whose host steal exceeds this share of its CPU capacity is flagged
STEAL_BOUND = 0.05

# --- workload definitions -------------------------------------------------

SQL_MIX_KEYS = [
    "agg_pricing_summary", "tpch_q3_shipping", "point_lookup", "semijoin_exists",
    "asof_join_events", "stream_tumbling_counts", "stream_url_frontier", "profile_tables_approx",
]
LLM_KEYS = [
    "dedup_minhash_docs", "dedup_jaccard_docs", "dedup_components", "ann_lsh_recall",
    "text_quality", "multimodal_phash_pairs", "graph_label_propagation",
]
# lowest recall@10 the ANN keys must reach on every drawn corpus
ANN_RECALL_FLOOR = 0.85
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

RUNGS = {"sf0.1": 0.1}
POOL = {"documents": 15000, "embeddings": 6000}
LLM_DRAW = {"documents": ("doc_id", 5000), "embeddings": ("vec_id", 2000)}
SUBSET_FRACTION = 0.05
# table -> (key space in the Derby source, keys forced into the subset)
SUBSET_FORCE = {"customer": (3000, 3)}
DERBY_DDL = [
    "CREATE TABLE region (r_regionkey INT NOT NULL PRIMARY KEY, r_name VARCHAR(32))",
    "CREATE TABLE nation (n_nationkey INT NOT NULL PRIMARY KEY, n_name VARCHAR(32), "
    "n_regionkey INT REFERENCES region (r_regionkey))",
    "CREATE TABLE customer (c_custkey BIGINT NOT NULL PRIMARY KEY, c_name VARCHAR(32), "
    "c_nationkey INT REFERENCES nation (n_nationkey), c_acctbal DOUBLE, "
    "c_mktsegment VARCHAR(16))",
    "CREATE TABLE orders (o_orderkey BIGINT NOT NULL PRIMARY KEY, "
    "o_custkey BIGINT REFERENCES customer (c_custkey), o_orderstatus VARCHAR(1), "
    "o_totalprice DOUBLE, o_orderpriority VARCHAR(16))",
]
DERBY_TABLES = {
    "region": {"order": 0, "where": "true", "cols": ["r_regionkey", "r_name"]},
    "nation": {"order": 1, "where": "true", "cols": ["n_nationkey", "n_name", "n_regionkey"]},
    "customer": {"order": 2, "where": "c_custkey < 3000",
                 "cols": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]},
    "orders": {"order": 3, "where": "o_custkey < 3000",
               "cols": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                        "o_orderpriority"]},
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# --- build ------------------------------------------------------------------

def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail("no src/main/scala under the working directory; run from the repository root")
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return main + bench


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt's unmanagedBase names."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("set SPARK_HOME: build.sbt names no unmanagedBase")
    return m.group(1)


def build():
    """Compile the program and the harness once per source state."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    log(f"compiling {len(srcs)} Scala sources")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = f"{spark_jars()}/*"
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp] + srcs,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, stamp


def java_cmd(classes, work, heap):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = ":".join([os.path.join(ROOT, "src/main/resources"), classes, f"{spark_jars()}/*"])
    return ["java"] + opens + [
        # a fixed, pre-touched heap keeps peak RSS from following GC
        # sizing; what still moves it is memory outside the heap
        f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dderby.system.home={work}",
        f"-Dderby.stream.error.file={work}/derby.log",
        "-cp", cp, "graft.perfbench.PerfBench"]


def run_jvm(classes, work, cfg, heap, deadline):
    """Run the harness JVM with `cfg`; returns its exit code. The JVM is
    killed, and waited for, if it outlives `deadline` (epoch seconds)."""
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 4),
               TMPDIR=os.path.join(work, "tmp"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(java_cmd(classes, work, heap) + [cfg_path], cwd=work,
                             stdout=out, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -9


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# --- inputs -----------------------------------------------------------------

def ensure_data(classes, deadline):
    """All rungs for all workloads, made once per checkout by the first run."""
    derby, pool = os.path.join(DATA, "derby_src"), os.path.join(DATA, "pool")
    if all(os.path.isdir(os.path.join(DATA, r)) for r in [*RUNGS, "pool", "derby_src"]):
        return
    work = fresh_dir(os.path.join(BUILD, "gen"))
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(DATA, exist_ok=True)
    log("generating the GenData rungs")
    cfg = {"mode": "gen",
           "rungs": [{"sf": sf, "dir": os.path.join(DATA, r)} for r, sf in RUNGS.items()],
           "pool": dict(POOL, dir=pool),
           "derby": {"dir": derby, "from": os.path.join(DATA, "sf0.1"), "ddl": DERBY_DDL,
                     "tables": DERBY_TABLES}}
    if run_jvm(classes, work, cfg, "3g", deadline) != 0:
        fail(f"data generation failed; see {work}/jvm.log")


def llm_corpus(seed):
    """documents and embeddings drawn from the pool by seed; the other
    tables are the sf0.1 rung's."""
    d = os.path.join(BUILD, "inputs", f"llm_corpus-{seed}")
    if os.path.isdir(d):
        return d
    tmp = fresh_dir(d + ".tmp")
    for t in TABLES:
        if t in LLM_DRAW:
            col, k = LLM_DRAW[t]
            benchlib.draw_table(os.path.join(DATA, "pool", f"{t}.parquet"),
                                os.path.join(tmp, f"{t}.parquet"), col, k, "llm_corpus", seed)
        else:
            os.link(os.path.join(DATA, "sf0.1", f"{t}.parquet"), os.path.join(tmp, f"{t}.parquet"))
    os.rename(tmp, d)
    return d


def workload_config(wl, seed, work):
    if wl == "subset":
        dest_dir = os.path.join(work, "derby_dest")
        return {
            "fraction": SUBSET_FRACTION, "force": benchlib.force_keys(wl, seed, SUBSET_FORCE),
            "derby_src": "jdbc:derby:" + os.path.join(DATA, "derby_src"),
            "derby_dest": f"jdbc:derby:{dest_dir};create=true", "derby_dest_dir": dest_dir,
            "derby_ddl": DERBY_DDL, "kernel_corpus": os.path.join(DATA, "sf0.1"),
        }, os.path.join(DATA, "derby_src")
    if wl == "llm_corpus":
        d = llm_corpus(seed)
        return {"data_dir": d, "keys": LLM_KEYS,
                "orders": benchlib.key_orders(wl, seed, LLM_KEYS, 20),
                "kernel_corpus": d}, d
    if wl == "sql_mix":
        d = os.path.join(DATA, "sf0.1")
        return {"data_dir": d, "keys": SQL_MIX_KEYS,
                "orders": benchlib.key_orders(wl, seed, SQL_MIX_KEYS, 20),
                "kernel_corpus": d}, d


# --- output checks ------------------------------------------------------------

def duck():
    import duckdb
    return duckdb.connect()


def dump_frame(con, work, key):
    files = glob.glob(os.path.join(work, "dumps", key, "*.parquet"))
    if not files:
        return None
    return con.execute(f"SELECT * FROM read_parquet({files!r})").df()


def oracle_frame(con, data_dir, sql):
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con.execute(sql).df()


def query_checks(wl, res, work, data_dir):
    """Exact keys: an order-insensitive hash of the dumped output against
    the stored expected hash (sql_mix, whose inputs do not depend on the
    seed) or against DuckDB running the key's oracle SQL on the drawn
    corpus (llm_corpus). Approximate keys: rows present, recall floor."""
    checks = []
    oracle = json.load(open(os.path.join(work, "oracle_sql.json")))
    expected = {}
    if wl == "sql_mix":
        expected = json.load(open(os.path.join(HERE, "expected", "sql_mix.json")))
    con = duck()
    for key in res["keys"]:
        df = dump_frame(con, work, key)
        if df is None:
            checks.append((f"output.{key}", False, "no output"))
            continue
        if key in oracle:
            got = benchlib.frame_hash(df)
            want = expected.get(key) if wl == "sql_mix" else \
                benchlib.frame_hash(oracle_frame(con, data_dir, oracle[key]))
            checks.append((f"hash.{key}", got == want, f"{got[:12]} vs {str(want)[:12]}"))
        else:
            checks.append((f"rows.{key}", len(df) > 0, f"{len(df)} rows"))
    for key, r in res["extra"].get("recall", {}).items():
        checks.append((f"recall.{key}", r >= ANN_RECALL_FLOOR, f"{r:.4f}"))
    return checks


# --- metrics ----------------------------------------------------------------

def steal_jiffies():
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu "):
                return int(line.split()[8])
    return 0


def meminfo_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b["end_to_end"], b["per_layer"]


def end_to_end(res, launch_s):
    op_s = [o["s"] for o in res["ops"] if o["ok"]] or [o["s"] for o in res["ops"]]
    boot = res["main_entry_ms"] / 1000.0 - launch_s
    tail, pct, n = benchlib.tail(op_s)
    return {
        "setup_s": boot + res["session_start_s"] + res["prepare_s"],
        "ops_per_s": sum(o["ok"] for o in res["ops"]) / sum(o["s"] for o in res["ops"]),
        "op_p50_s": benchlib.median(op_s),
        "cpu_s_per_op": sum(o["cpu_s"] for o in res["ops"]) / len(res["ops"]),
        "op_tail_s": tail,
        "peak_rss_mb": res["peak_rss_mb"],
    }, {"tail_percentile": pct, "tail_n": n, "jvm_boot_s": boot}


def phase_medians(res):
    """Median time of each op kind; the subset workload's phase times."""
    kinds = {}
    for o in res["ops"]:
        if o["ok"]:
            kinds.setdefault(o["kind"] + "_s", []).append(o["s"])
    return {k: benchlib.median(v) for k, v in kinds.items()}


def untraced_ops_per_s(workload):
    """Median ops_per_s of this checkout's untraced runs of `workload`."""
    xs = []
    for p in glob.glob(os.path.join(BUILD, "results", f"{workload}-seed*-trace0.json")):
        with open(p) as f:
            xs.append(json.load(f)["e2e"]["ops_per_s"])
    return benchlib.median(xs) if xs else None


def per_layer(res, e2e, workload):
    lay = dict(res["layers"])
    lay["session.start_s"] = res["session_start_s"]
    lay["session.prep_s"] = res["prepare_s"]
    lay["subsetter.fill"] = res["extra"].get("fill", 0.0)
    rec = res["extra"].get("recall", {})
    lay["queries.similarity.ann_recall"] = min(rec.values()) if rec else 0.0
    # tracing overhead: this traced run against the untraced runs made so
    # far in this checkout (0 when there are none yet)
    base = untraced_ops_per_s(workload)
    lay["trace.ops_per_s"] = e2e["ops_per_s"]
    lay["trace.untraced_ops_per_s"] = base or 0.0
    lay["trace.overhead_frac"] = 1.0 - e2e["ops_per_s"] / base if base else 0.0
    return lay


def provenance_inputs(wl, data_dir, res):
    """Input rows and bytes the workload reads."""
    if wl == "subset":
        size = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(data_dir) for f in fs)
        return res["extra"]["source_rows"], size
    import pyarrow.parquet as pq
    paths = [os.path.join(data_dir, f"{t}.parquet") for t in TABLES]
    return (sum(pq.ParquetFile(p).metadata.num_rows for p in paths),
            sum(os.path.getsize(p) for p in paths))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["subset", "llm_corpus", "sql_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--record-expected", action="store_true")
    a = ap.parse_args()
    started = time.time()
    e2e_decl, layer_decl = declared()
    # the first run in a checkout also compiles and generates the rungs
    first = not os.path.isdir(DATA)
    classes, src_sha = build()
    deadline = started + (FIRST_DEADLINE_S if first else DEADLINE_S)
    ensure_data(classes, deadline)
    work = fresh_dir(os.path.join(BUILD, "work", a.workload))
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "spark-local"))
    cfg, data_dir = workload_config(a.workload, a.seed, work)
    cfg.update({"mode": "run", "workload": a.workload, "seconds": a.seconds,
                "trace": bool(a.trace), "work": work,
                "result": os.path.join(work, "result.json")})
    steal0 = steal_jiffies()
    launch = time.time()
    rc = run_jvm(classes, work, cfg, "2g", deadline - 15)
    wall = time.time() - launch
    steal = steal_jiffies() - steal0
    if rc != 0 or not os.path.exists(cfg["result"]):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness JVM exited with {rc}")
    with open(cfg["result"]) as f:
        res = json.load(f)
    res["keys"] = cfg.get("keys", [])

    checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
    if a.workload != "subset":
        if a.record_expected:
            record_expected(res, work, data_dir)
        checks += query_checks(a.workload, res, work, data_dir)
    bad = [c for c in checks if not c[1]]
    for c in bad:
        log(f"check failed: {c[0]} ({c[2]})")
    failed_ops = sum(1 for o in res["ops"] if not o["ok"])
    attempted = len(res["ops"])
    # a failed output check counts as a failed op
    failed = min(attempted, failed_ops + len(bad))

    e2e, tail_info = end_to_end(res, launch)
    rows, size = provenance_inputs(a.workload, data_dir, res)
    cpu_jiffies = wall * 100 * (os.cpu_count() or 1)
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "src_sha256": src_sha, "git_sha": git_sha(), "nproc": os.cpu_count(),
        "mem_total_kb": meminfo_kb(), "jdk": res["java_version"],
        "spark": res["spark_version"], "input_rows": rows, "input_bytes": size,
        "steal_jiffies": steal, "steal_bound_jiffies": int(STEAL_BOUND * cpu_jiffies),
        "steal_flagged": steal > STEAL_BOUND * cpu_jiffies, "wall_s": wall,
        "e2e": e2e, "failed_frac": failed / attempted, **tail_info,
        "phases": phase_medians(res), "extra": res["extra"],
        "ops": res["ops"], "checks_failed": [list(c) for c in bad], "n_checks": len(checks),
    }
    if record["steal_flagged"]:
        log(f"steal {steal} jiffies exceeds {STEAL_BOUND:.0%} of the run's CPU time: "
            "this run's timings are contaminated")
    if a.trace:
        values = per_layer(res, e2e, a.workload)
        record["per_layer"] = values
        decl = layer_decl
    else:
        values = e2e
        decl = e2e_decl
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in decl}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    out = os.path.join(BUILD, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    # every end-to-end figure, the ungated ones too, with the run's provenance
    print(json.dumps({"provenance": {k: record[k] for k in (
        "workload", "seed", "git_sha", "src_sha256", "nproc", "mem_total_kb", "jdk", "spark",
        "input_rows", "input_bytes", "steal_jiffies", "steal_bound_jiffies", "steal_flagged")},
        "e2e": dict(record["e2e"], failed_frac=record["failed_frac"], **record["phases"],
                    **{f"recall.{k}": v for k, v in res["extra"].get("recall", {}).items()}),
        "tail_percentile": record["tail_percentile"], "tail_n": record["tail_n"],
        "artifact": os.path.relpath(out, ROOT)}))
    print(json.dumps({"correct": not bad and failed_ops == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              cwd=ROOT, timeout=5).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def record_expected(res, work, data_dir):
    """Confirm each oracle key's dumped output against DuckDB, then store
    its hash as the expected one."""
    oracle = json.load(open(os.path.join(work, "oracle_sql.json")))
    con = duck()
    out = {}
    for key in res["keys"]:
        if key not in oracle:
            continue
        got = benchlib.frame_hash(dump_frame(con, work, key))
        want = benchlib.frame_hash(oracle_frame(con, data_dir, oracle[key]))
        if got != want:
            fail(f"{key}: Spark output does not match DuckDB; not recording")
        out[key] = got
    os.makedirs(os.path.join(HERE, "expected"), exist_ok=True)
    with open(os.path.join(HERE, "expected", "sql_mix.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    log(f"recorded {len(out)} expected hashes")


if __name__ == "__main__":
    main()
