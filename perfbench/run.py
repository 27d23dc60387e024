#!/usr/bin/env python3
"""Benchmark of the graft library: one workload, one seed, one process.

    python3 perfbench/run.py --workload <etl_gates|corpus_chain|ann_serve>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.time()

import duckdb  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402
import metrics as M  # noqa: E402

ROOT = os.getcwd()
# etl_gates runs on request; BENCHMARK.json lists only the other two
WORKLOADS = ("etl_gates", "corpus_chain", "ann_serve")
NON_ETL = ("ann", "dd", "dp", "ts", "mm")
DATA_SEED = 42          # fixed tables and documents; the seed drives plans
ETL_SF = 0.01
ETL_STRIDE = 6          # every 6th gate by name: 20 of the 116
CHAIN_BATCH = 25        # docs per batch
CHAIN_PREBUILT = 16     # batches 0-15 come from the state cache
CHAIN_TIMED = 5         # batch 16 (first default compaction) and 4 after it
CHAIN_TAKEDOWN = 10     # ids taken down after each timed batch
SERVE_N = 4000          # generated vectors; SERVE_BUILT of them are built
SERVE_BUILT = 3200
SERVE_APPEND = 300
SERVE_ROUNDS = (2, 2, 2, 2)  # probes before, between and after the writes
RUN_TIMEOUT_S = 170
CORES = max(1, min(4, len(os.sched_getaffinity(0))))
TRACE_LAYERS = (
    [f"streaming.process_batch.{m}" for m in (
        "s", "jobs", "stages", "tasks", "driver_gap_s", "exec_cpu_s",
        "shuffle_mb", "spill_mb")]
    + ["catalog.state_dirs", "catalog.state_files", "catalog.state_mb",
       "catalog.output_dirs", "streaming.compactions"]
    + [f"streaming.remove_docs.{m}" for m in ("s", "jobs", "driver_gap_s")]
    + [f"ann.probe.{m}" for m in ("s", "jobs", "tasks", "exec_cpu_s",
                                  "driver_gap_s")]
    + ["ann.probe_filtered.s", "ann.probe_filtered.jobs",
       "catalog.index_segments", "catalog.tombstone_parts",
       "catalog.index_mb"]
    + ["ann.append.s", "ann.append.jobs", "ann.delete.s", "ann.delete.jobs",
       "ann.compact.s", "ann.compact.jobs", "ann.compact.exec_cpu_s",
       "ann.build.s", "ann.build.jobs", "ann.build.exec_cpu_s"]
    + ["spark.jobs", "spark.exec_cpu_s", "spark.driver_gap_s", "spark.gc_s",
       "trace_overhead"])
ETL_LAYERS = [f"queries.{q}.{m}" for q in (
    "base", "string", "date", "cond", "filter", "join", "agg_window",
    "event", "io", "connector") for m in ("s", "jobs", "driver_gap_s")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def build_dir():
    return os.path.join(os.path.abspath(os.environ.get(
        "CARGO_TARGET_DIR", os.path.join(ROOT, ".bench_build"))), "perfbench")


def source_files():
    files = sorted(glob.glob(f"{ROOT}/src/main/scala/**/*.scala",
                             recursive=True))
    if not files:
        raise BenchError("no library sources under src/main/scala; run "
                         "from the repository root")
    res = sorted(p for p in glob.glob(f"{ROOT}/src/main/resources/**",
                                      recursive=True) if os.path.isfile(p))
    harness = sorted(glob.glob(f"{HERE}/harness/*.scala"))
    return files, res, harness


def source_stamp():
    """Hash of everything the classes are built from."""
    files, res, harness = source_files()
    h = hashlib.sha256()
    for p in files + res + harness + [f"{ROOT}/build.sbt"]:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:20]


def scalac(out, sources, classpath):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", classpath,
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    r = subprocess.run(cmd + ["@" + argfile], capture_output=True, text=True)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + r.stdout[-4000:] +
                         r.stderr[-4000:])


def spark_jars():
    """The Spark jars directory build.sbt compiles against."""
    with open(f"{ROOT}/build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise BenchError("build.sbt names no readable unmanagedBase")
    return m.group(1)


def ensure_build():
    """Compile the working tree's library and the harness, once per source
    stamp. Returns (stamp, classpath, gate modules, seconds spent)."""
    stamp = source_stamp()
    jars = spark_jars()
    base = os.path.join(build_dir(), "classes")
    cdir = os.path.join(base, stamp)
    cp = f"{cdir}/harness:{cdir}/lib:{ROOT}/src/main/resources:{jars}/*"
    spent = 0.0
    if not os.path.exists(f"{cdir}/OK"):
        t0 = time.time()
        shutil.rmtree(base, ignore_errors=True)
        for old in glob.glob(os.path.join(build_dir(), "cache", "wall-*")):
            os.remove(old)
        files, _, harness = source_files()
        log(f"compiling {len(files)} library sources ({stamp})")
        scalac(f"{cdir}/lib", files, f"{jars}/*")
        scalac(f"{cdir}/harness", harness, f"{cdir}/lib:{jars}/*")
        r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp,
                            "perfbench.PerfBench",
                            "--list", f"{cdir}/gates.tsv"],
                           capture_output=True, text=True)
        if r.returncode != 0:
            raise BenchError("gate listing failed:\n" + r.stderr[-4000:])
        with open(f"{cdir}/OK", "w") as f:
            f.write(stamp)
        spent = time.time() - t0
    with open(f"{cdir}/gates.tsv") as f:
        gates = dict(line.rstrip("\n").split("\t") for line in f if line.strip())
    return stamp, cp, gates, spent


def jvm_options(work):
    """build.sbt's javaOptions (the --add-opens list, code cache, Spark
    flags) plus a box-sized heap and a temp dir inside the run."""
    with open(f"{ROOT}/build.sbt") as f:
        sbt = f.read()
    opens = re.findall(r'"(java\.base/[A-Za-z0-9_./]+)"', sbt)
    flags = re.findall(r'"(-D[^"$]+|-XX:[^"$]+)"', sbt)
    if not opens or not any(f.startswith("-XX:ReservedCodeCacheSize")
                            for f in flags):
        raise BenchError("could not read javaOptions from build.sbt")
    with open("/proc/meminfo") as f:
        kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    heap = min(8, max(2, kb // 2097152))
    return ([f"--add-opens={p}=ALL-UNNAMED" for p in opens] + flags +
            [f"-Xmx{heap}g", f"-Djava.io.tmpdir={work}/tmp",
             "-XX:-UsePerfData"]), heap


def git_state():
    try:
        top = subprocess.run(["git", "rev-parse", "--show-toplevel"],
                             capture_output=True, text=True, cwd=ROOT)
        if top.returncode or os.path.realpath(top.stdout.strip()) != \
                os.path.realpath(ROOT):
            return "none", None
        head = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, cwd=ROOT).stdout.strip()
        dirty = subprocess.run(["git", "status", "--porcelain", "--",
                                "src", "build.sbt", "perfbench"],
                               capture_output=True, text=True,
                               cwd=ROOT).stdout.strip() != ""
        return head or "none", dirty
    except OSError:
        return "none", None


# ---------------------------------------------------------------- plans

def etl_plan(rng, gates):
    """Every ETL_STRIDE-th gate by name, in seeded order."""
    names = sorted(g for g in gates if not any(
        g.startswith(f) and g[len(f):len(f) + 1].isdigit() for f in NON_ETL))
    chosen = names[::ETL_STRIDE]
    rng.shuffle(chosen)
    return [f"gate {g}" for g in chosen]


def chain_prebuild_plan():
    return [f"batch {b} {b * CHAIN_BATCH} {(b + 1) * CHAIN_BATCH - 1}"
            for b in range(CHAIN_PREBUILT)]


def chain_docs():
    return (CHAIN_PREBUILT + CHAIN_TIMED) * CHAIN_BATCH


def chain_plan(rng):
    """Seeded contiguous boundaries over the docs after the cached state,
    in ascending doc_id, each batch followed by a takedown of
    already-arrived ids. Returns (plan, every id taken down)."""
    lo = CHAIN_PREBUILT * CHAIN_BATCH
    bounds = ([lo] + [lo + i * CHAIN_BATCH + rng.randint(-3, 3)
                      for i in range(1, CHAIN_TIMED)] + [chain_docs()])
    plan, removed = [], set()
    for i in range(CHAIN_TIMED):
        a, b = bounds[i], bounds[i + 1] - 1
        plan.append(f"batch {CHAIN_PREBUILT + i} {a} {b}")
        pool = [d for d in range(0, b + 1) if d not in removed]
        ids = rng.sample(pool, CHAIN_TAKEDOWN)
        removed.update(ids)
        plan.append("remove " + ",".join(map(str, sorted(ids))))
    return plan, sorted(removed)


def serve_plan(rng):
    """build, then four rounds of probes (SERVE_ROUNDS), the rounds
    separated by an append and a delete (in seeded order) and then a
    compaction, so there are probes before and after it. Half of each
    round's probes, in seeded places, are filtered through the ids of five
    seeded labels, so every seed probes each index state alike. Each
    probe asks for four live ids plus an echo (a negative id
    `-1-x`: a copy of vector x) of a freshly appended id when there is
    one, else of a random live id."""
    writes = ["append", "delete"]
    rng.shuffle(writes)
    writes += ["compact", None]
    plan = [f"build {SERVE_BUILT - 1}"]
    hi, deleted, fresh = SERVE_BUILT - 1, set(), []
    labels = ",".join(map(str, sorted(rng.sample(range(10), 5))))

    def queries():
        live = [i for i in range(hi + 1) if i not in deleted]
        qs = rng.sample(live, 4)
        pool = [i for i in fresh if i not in deleted and i not in qs]
        echo = rng.choice(pool or [i for i in live if i not in qs])
        return ",".join(map(str, sorted(qs + [-1 - echo])))

    for i, w in enumerate(writes):
        n = SERVE_ROUNDS[i]
        filtered = [True] * (n // 2) + [False] * (n - n // 2)
        rng.shuffle(filtered)
        for f in filtered:
            plan.append(f"probe_filtered {queries()} {labels}" if f
                        else f"probe {queries()}")
        if w == "append":
            plan.append(f"append {hi + 1} {hi + SERVE_APPEND}")
            fresh = list(range(hi + 1, hi + SERVE_APPEND + 1))
            hi += SERVE_APPEND
        elif w == "delete":
            doomed = rng.sample([i for i in range(hi + 1)
                                 if i not in deleted], 5)
            deleted.update(doomed)
            plan.append("delete " + ",".join(map(str, sorted(doomed))))
        elif w == "compact":
            plan.append("compact")
    return plan


# ---------------------------------------------------------------- checks

def duck():
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{build_dir()}/duckdb-tmp'")
    return con


def duck_views(con, data_dir):
    for p in sorted(glob.glob(f"{data_dir}/*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")


def compare(con, spark_dir, sql):
    sq = con.execute(f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
    sc, sr = M.canon(sq.fetchall(), [d[0] for d in sq.description])
    oq = con.execute(sql)
    oc, orr = M.canon(oq.fetchall(), [d[0] for d in oq.description])
    if sc != oc:
        return f"columns {sc} != {oc}"
    if sr != orr:
        return f"rows differ ({len(sr)} vs {len(orr)})"
    return None


def check_etl(work, data_dir):
    with open(f"{work}/oracle_sql.json") as f:
        oracle = json.load(f)
    con = duck()
    duck_views(con, data_dir)
    bad = {}
    for name, sql in sorted(oracle.items()):
        err = compare(con, f"{work}/out/{name}", sql)
        if err:
            bad[name] = err
    return bad


def chain_oracle(data_dir, sql, cache):
    """dp03 oracle rows over the documents, cached by SQL text + bytes."""
    docs = f"{data_dir}/documents.parquet"
    path = f"{cache}/oracle-{M.oracle_key(sql, [docs])}.json"
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f), 0.0
    t0 = time.time()
    con = duck()
    duck_views(con, data_dir)
    q = con.execute(sql)
    res = {"cols": [d[0] for d in q.description],
           "rows": [list(r) for r in q.fetchall()]}
    os.makedirs(cache, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(res, f)
    os.replace(path + ".tmp", path)
    return res, time.time() - t0


def check_chain(work, data_dir, removed, cache):
    with open(f"{work}/oracle_sql.json") as f:
        sql = json.load(f)["dp03_incremental_corpus"]
    res, spent = chain_oracle(data_dir, sql, cache)
    idx = res["cols"].index("doc_id")
    gone = set(removed)
    want = [r for r in res["rows"] if r[idx] not in gone]
    con = duck()
    q = con.execute(f"SELECT * FROM read_parquet('{work}/out/chain/*.parquet')")
    got = M.canon(q.fetchall(), [d[0] for d in q.description])
    bad = {}
    if got != M.canon([tuple(r) for r in want], res["cols"]):
        bad["chain"] = (f"output has {len(got[1])} rows, oracle minus "
                        f"takedowns has {len(want)}")
    return bad, spent, len(want)


# ---------------------------------------------------------------- run

def read_events(path):
    ev = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev.setdefault(e["t"], []).append(e)
    return ev


def launch(cp, opts, args, work, deadline, log_path):
    """Run the harness JVM; it never outlives this call."""
    with open(log_path, "w") as lf:
        # the gates read their vendored reference templates, never a
        # reference checkout outside the repository
        env = dict(os.environ, GRAFT_REFERENCE_ROOT=f"{work}/no-reference")
        p = subprocess.Popen(["java"] + opts + ["-cp", cp,
                                                "perfbench.PerfBench"] + args,
                             stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                             env=env)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError("the benchmark process timed out")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def prebuilt_chain_state(cp, opts_for, data_dir, warm_dir, stamp, deadline):
    """The warehouse after batches 0-15, built once per source stamp and
    documents file, so each run starts just before the first default
    compaction."""
    plan = chain_prebuild_plan()
    key = M.oracle_key(stamp + "\n" + "\n".join(plan),
                       [f"{data_dir}/documents.parquet"])[:20]
    cache = os.path.join(build_dir(), "cache")
    state = f"{cache}/chain-{key}"
    if os.path.isdir(state):
        return state, 0.0
    t0 = time.time()
    for old in glob.glob(f"{cache}/chain-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = state + ".tmp"
    os.makedirs(f"{tmp}/tmp", exist_ok=True)
    with open(f"{tmp}/plan.txt", "w") as f:
        f.write("\n".join(plan) + "\n")
    log("building the cached chain state (batches 0-15)")
    code = launch(cp, opts_for(tmp), ["chain_prebuild", data_dir, tmp,
                                      f"{tmp}/plan.txt", f"{tmp}/events.jsonl",
                                      "0", warm_dir, str(CORES)],
                  tmp, deadline, f"{tmp}/jvm.log")
    if code != 0:
        raise BenchError(f"chain state build failed; see {tmp}/jvm.log")
    os.rename(tmp, state)
    return state, time.time() - t0


def summarize(ev, t_start, one_time_s):
    spans = ev.get("span", [])
    ops = [s["ns"] / 1e9 for s in spans if s["kind"] == "op"]
    writes = [s["ns"] / 1e9 for s in spans if s["kind"] == "write"]
    timed = [s for s in spans if s["kind"] in ("op", "write", "build")]
    marks = {m["name"]: m for m in ev["mark"]}
    first = marks["first_op"]["ms"]
    wall = (timed[-1]["n0"] + timed[-1]["ns"] - timed[0]["n0"]) / 1e9
    end = next(w for w in ev["walk"] if w["tag"] == "end")
    disk = sum(v[3] for v in end["tables"].values())
    tail, pct, beyond = M.tail(ops)
    builds = [s["ns"] / 1e9 for s in spans if s["kind"] == "build"]
    out = {
        "setup_s": (first / 1e3 - t_start - one_time_s, "s"),
        "wall_s": (wall, "s"),
        "op_p50_s": (statistics.median(ops), "s"),
        "disk_mb": (disk / 1e6, "MB"),
    }
    # recorded in the run's artifact but not gated: a run has too few
    # writes and tail samples, and too GC-dependent a peak, for a bound
    extra = {
        "op_tail_s": tail,
        "write_p50_s": statistics.median(writes),
        "build_s": builds[0] if builds else None,
        "peak_rss_mb": ev["rss"][0]["kb"] / 1024.0,
        # CPU seconds of every JVM thread from the first timed call to
        # the last: steadier than wall time when the host steals CPU
        "timed_cpu_s": (marks["last_op"]["cpu_ns"]
                        - marks["first_op"]["cpu_ns"]) / 1e9,
    }
    info = {"ops": len(ops), "writes": len(writes), "recorded": extra,
            "op_tail_percentile": round(pct, 1), "op_tail_beyond": beyond,
            "spans": [{k: s[k] for k in ("kind", "layer", "name", "ns")}
                      for s in spans]}
    return out, info


def catalog_measures(ev):
    """Warehouse shape after each timed call, averaged over the calls."""
    walks = [w["tables"] for w in ev.get("walk", [])
             if w["tag"].startswith("after:")]
    if not walks:
        walks = [{}]

    def total(tables, prefix, col):
        return sum(v[col] for k, v in tables.items() if k.startswith(prefix))

    def mean(f):
        return sum(f(t) for t in walks) / len(walks)

    start = [w["tables"] for w in ev.get("walk", []) if w["tag"] == "start"]
    state_dirs = [total(t, "cc_seen", 0) for t in start + walks]
    return {
        "catalog.state_dirs": mean(lambda t: total(t, "cc_seen", 0)),
        "catalog.state_files": mean(lambda t: total(t, "cc_seen", 2)),
        "catalog.state_mb": mean(lambda t: total(t, "cc_seen", 3)) / 1e6,
        "catalog.output_dirs": mean(lambda t: total(t, "cc_out", 1)),
        "streaming.compactions": float(sum(
            1 for a, b in zip(state_dirs, state_dirs[1:]) if b < a)),
        "catalog.index_segments": mean(lambda t: total(t, "srv_assign", 0)),
        "catalog.tombstone_parts": mean(lambda t: total(t, "srv_dels", 0)),
        "catalog.index_mb": mean(lambda t: total(t, "srv", 3)) / 1e6,
    }


def run_once(args, stamp, cp, gates, rundir, t_start, one_time_s):
    """One benchmark process. Returns (metrics, info, correctness)."""
    data, warm, work = (f"{rundir}/{d}" for d in ("data", "warm", "work"))
    for d in (work + "/tmp", work + "/out", warm):
        os.makedirs(d, exist_ok=True)
    rng = random.Random(args.seed)
    info = {}
    deadline = t_start + RUN_TIMEOUT_S + one_time_s

    def opts_for(w):
        return jvm_options(w)[0]

    if args.workload == "etl_gates":
        gen.tables(data, DATA_SEED, ETL_SF, 500, 500)
        plan = etl_plan(rng, gates)
    elif args.workload == "corpus_chain":
        gen.tables(data, DATA_SEED, 0.001, chain_docs(), 10)
        plan, removed = chain_plan(rng)
    else:
        gen.tables(data, args.seed, 0.001, 10, SERVE_N)
        plan = serve_plan(rng)
    gen.tables(warm, DATA_SEED + 1, 0.001, 60, 300)

    if args.workload == "corpus_chain":
        state, spent = prebuilt_chain_state(
            cp, opts_for, data, warm, stamp, deadline)
        one_time_s += spent
        deadline += spent
        shutil.copytree(f"{state}/wh", f"{work}/wh")

    with open(f"{rundir}/plan.txt", "w") as f:
        f.write("\n".join(plan) + "\n")
    events = f"{rundir}/events.jsonl"
    t_launch = time.time()
    code = launch(cp, opts_for(work),
                  [args.workload, data, work, f"{rundir}/plan.txt", events,
                   str(args.trace), warm, str(CORES)],
                  work, deadline, f"{rundir}/jvm.log")
    ev = read_events(events) if os.path.exists(events) else {}
    if code != 0 or "error" in ev:
        msg = ev.get("error", [{"msg": f"exit code {code}"}])[0]["msg"]
        with open(f"{rundir}/jvm.log") as f:
            log(f.read()[-3000:])
        raise BenchError(f"benchmark process failed: {msg}")

    bad = {c["name"]: c["detail"] for c in ev.get("check", [])
           if not c["ok"]}
    if args.workload == "etl_gates":
        bad.update(check_etl(work, data))
    elif args.workload == "corpus_chain":
        cbad, spent, rows = check_chain(work, data, removed,
                                        os.path.join(build_dir(), "cache"))
        bad.update(cbad)
        info["oracle_rows"] = rows
        info["oracle_s"] = round(spent, 2)
    out, sinfo = summarize(ev, t_start, one_time_s)
    info.update(sinfo)
    session = next(m["ms"] for m in ev["mark"] if m["name"] == "session")
    warm = sum(s["ns"] for s in ev["span"] if s["kind"] == "warm") / 1e9
    info["setup_parts"] = {
        "inputs_s": round(t_launch - t_start - one_time_s, 3),
        "jvm_session_s": round(session / 1e3 - t_launch, 3),
        "warm_s": round(warm, 3),
        "rest_s": round(out["setup_s"][0] - (t_launch - t_start - one_time_s)
                        - (session / 1e3 - t_launch) - warm, 3)}
    if args.trace:
        listener = (ev.get("span", []), ev.get("job_start", []),
                    ev.get("job_end", []),
                    {s["stage"]: s for s in ev.get("stage", [])})
        layers = M.per_layer(*listener)
        layers.update(catalog_measures(ev))
        info["layers"] = layers
        info["calls"] = [dict(name=s["name"], layer=s["layer"], **m)
                         for s, m in M.call_measures(*listener)]
    info["attempted"] = sum(1 for s in ev["span"]
                            if s["kind"] in ("op", "write", "build"))
    info["failed"] = sum(1 for s in ev["span"] if not s["ok"])
    return out, info, bad


def untraced_wall(args, stamp, cp, gates):
    """wall_s of an untraced run of the same workload and sources: this
    seed's if one was made, else the median over the other seeds made,
    else one made now with this seed."""
    path = os.path.join(build_dir(), "cache",
                        f"wall-{args.workload}-{args.seed}-{stamp}.json")
    others = glob.glob(os.path.join(build_dir(), "cache",
                                    f"wall-{args.workload}-*-{stamp}.json"))
    if os.path.exists(path):
        others = [path]
    if others:
        walls = []
        for p in others:
            with open(p) as f:
                walls.append(json.load(f)["wall_s"])
        return statistics.median(walls)
    plain = argparse.Namespace(**dict(vars(args), trace=0))
    rundir = new_rundir()
    try:
        out, _, bad = run_once(plain, stamp, cp, gates, rundir, time.time(),
                               0.0)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    if bad:
        raise BenchError(f"untraced reference run failed its checks: {bad}")
    save_wall(path, out["wall_s"][0])
    return out["wall_s"][0]


def save_wall(path, wall):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"wall_s": wall}, f)


def new_rundir():
    d = os.path.join(build_dir(), "runs", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(d)
    return d


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM (launch's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        stamp, cp, gates, built_s = ensure_build()
        rundir = new_rundir()
        try:
            out, info, bad = run_once(args, stamp, cp, gates, rundir,
                                      T_START, built_s)
        finally:
            shutil.rmtree(rundir, ignore_errors=True)
        if source_stamp() != stamp:
            raise BenchError("sources changed during the run; the timed "
                             "classes are stale")
    except BenchError as e:
        log(f"error: {e}")
        return 2
    cache_wall = os.path.join(build_dir(), "cache",
                              f"wall-{args.workload}-{args.seed}-{stamp}.json")
    metrics = {}
    if args.trace:
        layers = info.pop("layers")
        try:
            base = untraced_wall(args, stamp, cp, gates)
        except BenchError as e:
            log(f"error: {e}")
            return 2
        layers["trace_overhead"] = out["wall_s"][0] / base - 1.0
        for name in TRACE_LAYERS + (
                ETL_LAYERS if args.workload == "etl_gates" else []):
            unit = ("ratio" if name == "trace_overhead" else
                    "s" if name.endswith("_s") or name.endswith(".s") else
                    "MB" if name.endswith("_mb") else "count")
            metrics[name] = {"value": layers.get(name, 0.0), "unit": unit}
        info["layers_all"] = layers
    else:
        save_wall(cache_wall, out["wall_s"][0])
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in out.items()}
    head, dirty = git_state()
    _, heap = jvm_options(ROOT)
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "seconds": args.seconds,
              "source_stamp": stamp, "git_head": head, "git_dirty": dirty,
              "cores": CORES,
              "heap_gb": heap, "failures": bad,
              "end_to_end": {k: v for k, (v, _) in out.items()}, **info}
    res_dir = os.path.join(build_dir(), "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(f"{res_dir}/{args.workload}-seed{args.seed}-trace{args.trace}"
              ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    print("# " + json.dumps({k: record[k] for k in (
        "workload", "seed", "trace", "source_stamp", "git_head", "git_dirty",
        "cores", "heap_gb", "ops", "writes", "recorded", "setup_parts",
        "op_tail_percentile", "op_tail_beyond")}))
    for name, detail in bad.items():
        log(f"MISMATCH {name}: {detail}")
    print(json.dumps({"correct": not bad, "attempted": info["attempted"],
                      "failed": info["failed"], "metrics": metrics}))
    return 0 if not bad else 1


if __name__ == "__main__":
    sys.exit(main())
