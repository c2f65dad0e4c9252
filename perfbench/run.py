#!/usr/bin/env python3
"""kmrspark benchmark: seeded workloads, checked outputs, layered timings.

Usage (from the repository root):
    python3 perfbench/run.py --workload tpch_warm --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source on first use (sbt, offline),
generates the workload's inputs from the seed, runs one closed-loop client
in a JVM (perfbench/src), checks every job's output against its DuckDB
oracle, removes everything it generated, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen    # noqa: E402
import stats  # noqa: E402

SRC_DATA = os.environ.get("PERFBENCH_SRC", os.path.expanduser("~/testdata/sf0.01"))
DEADLINE_S = 170          # hard cap on one run's JVM
SETUP_REPS = 3            # set-ups per run; setup_s is their median
REPLICAS = 1              # copies of the source tables per generated input
LOCK_WAIT_S = 60          # longest wait for another holder of the gate lock
LOCK_STALE_S = 30 * 60    # a lock untouched this long belongs to a dead holder

# Job lists: representative subsets of the gate modules, sized so that a
# run (set-up, cold passes, measured window, oracle check) stays well inside
# the time one benchmark run may take on a 4-core host.
TPCH = ["q1_pricing", "q3_topk", "q5_local", "q18_topq"]
JOINOPS = ["range_join", "bloom_join"]
ITERATE = ["pagerank_exact", "flexdice_cells"]

# `warm_passes` is fixed per workload, so every run samples the same points
# of the JIT warm-up curve whatever `--seconds` says.
WORKLOADS = {
    # many short Spark jobs over one small star schema: per-query
    # scheduling, codegen and Catalyst planning; no index builds, and after
    # the cold pass on a copy every Tables memo hits
    "tpch_warm": {"jobs": TPCH + JOINOPS, "warm_passes": 5},
    # driver-side supersteps inside the build call; the indexes the gates
    # read are pre-built in set-up, so passes only serve them
    "iterate_warm": {"jobs": ITERATE, "prebuild": ["tradeedges"],
                     "warm_passes": 4},
}

MODULES = ["Tpch", "JoinOps", "Iterative", "FlexDice"]
EXEC_FIELDS = ["jobs", "stages", "tasks", "tasks_failed"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg):
    log("error:", msg)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    files = sorted(glob.glob(f"{ROOT}/src/main/scala/**/*.scala", recursive=True)
                   + glob.glob(f"{HERE}/src/**/*.scala", recursive=True)
                   + [f"{HERE}/build.sbt", f"{HERE}/project/build.properties"])
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else found
    from spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(exe))) if exe else ""
    return os.path.join(home, "jars") if home else ""


def ensure_built(jars):
    classes = f"{HERE}/target/scala-2.13/classes"
    stamp_file = f"{HERE}/target/perfbench.stamp"
    stamp = source_stamp()
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes
    log("building engine + harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_SPARK_JARS=jars)
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("sbt build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


# ---------------------------------------------------------------- lock

LOCK = os.path.join(ROOT, ".graft_gate.lock")


def acquire_lock():
    """Take the repo-wide gate lock that graft.Bench, graft.Verify and the
    correctness compare serialize on, with GateLock's protocol: atomic
    create-if-absent; a lock untouched for LOCK_STALE_S is stolen by an
    atomic rename (exactly one waiter wins it) and put back if its holder
    touched it meanwhile. A run never measures under another holder: after
    LOCK_WAIT_S it fails instead."""
    deadline = time.time() + LOCK_WAIT_S
    while time.time() < deadline:
        try:
            fd = os.open(LOCK, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, f"perfbench {os.getpid()}".encode())
            os.close(fd)
            return
        except FileExistsError:
            try:
                if time.time() - os.path.getmtime(LOCK) > LOCK_STALE_S:
                    stolen = f"{LOCK}.steal.{os.getpid()}"
                    os.rename(LOCK, stolen)
                    if time.time() - os.path.getmtime(stolen) > LOCK_STALE_S:
                        os.unlink(stolen)
                    else:
                        try:
                            os.rename(stolen, LOCK)
                        except OSError:
                            os.unlink(stolen)
                    continue
            except OSError:
                continue
            time.sleep(1)
    fail(f"{LOCK} is held by another run; not measuring under contention")


def release_lock():
    try:
        os.unlink(LOCK)
    except OSError:
        pass


# ---------------------------------------------------------------- helpers

def heap_size():
    """The heap the test suite's JVM gets: half of RAM in GB, 2 to 8."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def table_suffix(d):
    """ServedIndex.suffix: the sanitized data-dir suffix every index and
    managed table built over `d` carries in its name."""
    return re.sub("[^A-Za-z0-9]", "_", d)


def remove_tables(path, tag, existed):
    """Delete the entries under `path` whose name contains `tag` (matched
    case-blind: the warehouse lower-cases table names), then `path` itself
    if this run created it and that leaves it empty."""
    if not os.path.isdir(path):
        return
    for name in os.listdir(path):
        if tag.lower() in name.lower():
            shutil.rmtree(os.path.join(path, name), ignore_errors=True)
    if not existed and not os.listdir(path):
        os.rmdir(path)


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


# ---------------------------------------------------------------- oracle

class Oracle:
    """Expected-result digests from each job's DuckDB oracle, cached per
    (seed, generator version, workload input, job, oracle SQL)."""

    def __init__(self, cache_path, tmp):
        self.cache_path = cache_path
        self.tmp = tmp
        try:
            self.cache = json.load(open(cache_path))
        except (OSError, ValueError):
            self.cache = {}

    def save(self):
        os.makedirs(os.path.dirname(self.cache_path), exist_ok=True)
        tmp = self.cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.cache, f)
        os.replace(tmp, self.cache_path)

    def _con(self, data_dir):
        import duckdb
        con = duckdb.connect()
        con.execute("SET memory_limit='2GB'")
        con.execute("SET threads=4")
        con.execute("SET preserve_insertion_order=false")
        con.execute("SET enable_progress_bar=false")
        con.execute(f"SET temp_directory='{self.tmp}'")
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        return con

    def expected(self, key, data_dir, sql, cap_s=60):
        k = hashlib.sha256(f"{key}|{sql}".encode()).hexdigest()
        if k in self.cache:
            return self.cache[k]
        con = self._con(data_dir)
        timer = threading.Timer(cap_s, con.interrupt)
        timer.start()
        try:
            d = stats.frame_digest(con.execute(sql).fetchdf())
        finally:
            timer.cancel()
            con.close()
        self.cache[k] = d
        return d

    @staticmethod
    def actual(dump_dir):
        import duckdb
        files = sorted(glob.glob(f"{dump_dir}/*.parquet"))
        con = duckdb.connect()
        try:
            return stats.frame_digest(
                con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())
        finally:
            con.close()


# ---------------------------------------------------------------- metrics

def med(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def end_to_end(res, setup_samples, attempted, failed):
    passes = res["passes"]
    return {
        "pass_s": (med(p["pass_s"] for p in passes if not p["cold"]), "s"),
        "cold_pass_s": (med(p["pass_s"] for p in passes if p["cold"]), "s"),
        "setup_s": (med(setup_samples), "s"),
        "heap_retained_mb": (res["heap_retained_mb"], "MB"),
        "jobs_ok_frac": ((attempted - failed) / attempted, "ratio"),
    }


def per_layer(res):
    passes = res["passes"]
    cores = res["cores"]
    spans = res["spans"]
    selfs = stats.self_times(spans)
    # cold passes are traced but left out: they are not what the next pass pays
    traced = [p for p in passes if p["traced"] and not p["cold"]]
    untraced = [p for p in passes if not p["traced"] and not p["cold"]]
    by_pass_spans = {}
    for s in spans:
        by_pass_spans.setdefault(s["pass"], []).append(s)

    def tot(p, phase, field):
        return sum(v.get(field, 0) for k, v in p["phase_totals"].items()
                   if k.endswith(":" + phase))

    def per_pass(f):
        return med(f(p) for p in traced)

    def span_self(p, pred):
        return sum(selfs[s["id"]] for s in by_pass_spans.get(p["pass"], [])
                   if pred(s["name"]))

    m = {}
    m["build_s"] = (per_pass(lambda p: sum(j["build_s"] for j in p["jobs"])), "s")
    for mod in MODULES:
        m[f"build_s.{mod}"] = (per_pass(lambda p: sum(
            j["build_s"] for j in p["jobs"] if j["module"] == mod)), "s")
    m["build.jobs"] = (per_pass(lambda p: tot(p, "build", "jobs")), "count")
    m["build.stages"] = (per_pass(lambda p: tot(p, "build", "stages")), "count")
    m["build.task_cpu_s"] = (per_pass(lambda p: tot(p, "build", "cpu_ns") / 1e9), "s")
    m["catalyst.plan_s"] = (per_pass(lambda p: sum(j["plan_s"] for j in p["jobs"])), "s")
    for key, name in (("analysis", "analysis_s"), ("optimization", "optimizer_s"),
                      ("planning", "planning_s")):
        m[f"catalyst.{name}"] = (per_pass(lambda p: sum(
            j["catalyst"].get(key, 0.0) for j in p["jobs"])), "s")
    action = per_pass(lambda p: sum(j["exec_s"] for j in p["jobs"]))
    m["exec.action_s"] = (action, "s")
    for f in EXEC_FIELDS:
        m[f"exec.{f}"] = (per_pass(lambda p: tot(p, "exec", f)), "count")
    run_s = per_pass(lambda p: tot(p, "exec", "run_ms") / 1e3)
    m["exec.task_run_s"] = (run_s, "s")
    m["exec.task_cpu_s"] = (per_pass(lambda p: tot(p, "exec", "cpu_ns") / 1e9), "s")
    m["exec.task_gc_s"] = (per_pass(lambda p: tot(p, "exec", "gc_ms") / 1e3), "s")
    m["exec.fetch_wait_s"] = (per_pass(lambda p: tot(p, "exec", "fetch_wait_ms") / 1e3), "s")
    for f, name in (("shuffle_read_b", "shuffle_read_mb"),
                    ("shuffle_write_b", "shuffle_write_mb"),
                    ("spill_b", "spill_mb"), ("input_b", "input_mb")):
        m[f"exec.{name}"] = (per_pass(lambda p: tot(p, "exec", f) / 1048576.0), "MB")
    m["exec.slot_util"] = (run_s / (action * cores) if action else 0.0, "ratio")
    # the workloads call SparkEntry.indexes in set-up only
    m["index.call_s"] = (med(sum(r["index_s"].values()) for r in res["setups"]), "s")
    m["index.builds"] = (per_pass(lambda p: p["index_builds"]), "count")
    m["index.write_mb"] = (per_pass(lambda p: p["index_write_b"] / 1048576.0), "MB")
    m["index.disk_mb"] = (res["index_disk_b"] / 1048576.0, "MB")
    m["storage.cached_mb"] = (per_pass(lambda p: p["cached_b"] / 1048576.0), "MB")
    m["storage.cached_rdds"] = (per_pass(lambda p: p["cached_rdds"]), "count")
    m["jvm.gc_s"] = (per_pass(lambda p: p["gc_s"]), "s")
    m["jvm.heap_after_pass_mb"] = (per_pass(lambda p: p["heap_after_pass_mb"]), "MB")
    # where the pass went: span self times, phase coverage, tracing cost
    m["self_s.pass"] = (per_pass(lambda p: span_self(p, lambda n: n == "pass")), "s")
    m["self_s.job"] = (per_pass(lambda p: span_self(p, lambda n: n.startswith("job:"))), "s")
    traced_pass = per_pass(lambda p: p["pass_s"])
    covered = per_pass(lambda p: sum(j["build_s"] + j["plan_s"] + j["exec_s"]
                                     for j in p["jobs"]))
    m["trace.pass_s"] = (traced_pass, "s")
    m["trace.untraced_pass_s"] = (med(p["pass_s"] for p in untraced), "s")
    m["trace.overhead_s"] = (traced_pass - m["trace.untraced_pass_s"][0], "s")
    m["trace.phase_coverage"] = (covered / traced_pass if traced_pass else 0.0, "ratio")
    m["trace.build_frac"] = (m["build_s"][0] / traced_pass if traced_pass else 0.0, "ratio")
    m["trace.exec_frac"] = (action / traced_pass if traced_pass else 0.0, "ratio")
    m["trace.passes"] = (len(traced), "count")
    return m


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    # accepted for the benchmark interface; a run's length is set by the
    # workload's fixed pass count, not by this figure
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    wl = WORKLOADS[args.workload]

    if not os.path.isfile(f"{ROOT}/src/main/scala/graft/SparkEntry.scala"):
        fail("engine sources not found next to the benchmark")
    jars = spark_jars()
    if not os.path.isdir(jars):
        fail("no Spark jars: set SPARK_HOME")
    if not os.path.isfile(f"{SRC_DATA}/lineitem.parquet"):
        fail(f"no source tables at {SRC_DATA}")
    os.chdir(ROOT)
    classes = ensure_built(jars)

    work = f"{HERE}/.work/{args.workload}-{args.seed}-{os.getpid()}"
    # every table this run builds is named after one of its input dirs,
    # all under `work`; the trailing separator keeps pid 12 from matching 123
    tag = table_suffix(work + "/")
    owned_lock = False
    child = None
    existed = {p: os.path.isdir(p)
               for p in ("target", "target/graft-index", "spark-warehouse")}

    def on_term(signum, frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, on_term)
    try:
        acquire_lock()
        owned_lock = True
        os.makedirs(f"{work}/tmp", exist_ok=True)
        # ---- inputs: one copy per set-up, each measured by one cold pass,
        # and one for the session warm-up; all identical
        gen_s, tables, setup_dirs = [], {}, []
        for r in range(SETUP_REPS):
            d = f"{work}/setup{r}"
            t = time.time()
            tables = gen.generate(SRC_DATA, d, REPLICAS, args.seed)
            gen_s.append(time.time() - t)
            setup_dirs.append(d)
        gen.generate(SRC_DATA, f"{work}/warmup", REPLICAS, args.seed)
        # ---- run the JVM
        props = {
            "cpus": os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count())),
            "trace": str(args.trace),
            "setup_dirs": ",".join(setup_dirs),
            "warmup_dir": f"{work}/warmup",
            "jobs": ",".join(wl["jobs"]),
            "prebuild": ",".join(wl.get("prebuild", [])),
            "warm_passes": str(wl["warm_passes"]),
            "dump": f"{work}/dump", "out": f"{work}/result.json",
        }
        with open(f"{work}/run.properties", "w") as f:
            for k, v in props.items():
                f.write(f"{k}={v}\n")
        cmd = (["java", f"-Xmx{heap_size()}", f"-Djava.io.tmpdir={work}/tmp",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-Dspark.sql.legacy.parquet.nanosAsLong=true"]
               + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", f"{classes}:{jars}/*", "graft.perfbench.Runner",
                  f"{work}/run.properties"])
        env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local",
                   SPARK_GRAFT_CPUS=props["cpus"])
        spawn_epoch = time.time()
        with open(f"{work}/jvm.log", "w") as logf:
            child = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                     env=env)
            try:
                rc = child.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                child.kill()
                child.wait()
                fail("benchmark JVM exceeded the time limit")
        child = None
        if rc != 0 or not os.path.exists(f"{work}/result.json"):
            sys.stderr.write(open(f"{work}/jvm.log").read()[-4000:])
            fail(f"benchmark JVM exited with {rc}")
        res = json.load(open(f"{work}/result.json"))
        jvm_s = time.time() - spawn_epoch
        setup_samples = [g + s["session_s"] + s["first_read_s"] + s["prebuild_s"]
                         for g, s in zip(gen_s, res["setups"])]
        # ---- check outputs (after every timed span)
        t_oracle = time.time()
        src_id = ";".join(f"{t}:{os.path.getsize(f'{SRC_DATA}/{t}.parquet')}"
                          for t in gen.TABLES) + "@" + SRC_DATA
        oracle = Oracle(f"{HERE}/.cache/oracle-v{gen.GEN_VERSION}.json", f"{work}/tmp")
        sqls = res["oracles"]
        verdicts = {}
        jobs = [j for p in res["passes"] for j in p["jobs"]]
        for j in jobs:
            name = j["name"]
            if not j.get("dump"):
                continue
            if name in sqls:
                key = f"{src_id}|{args.seed}|{REPLICAS}|{name}"
                try:
                    want = oracle.expected(key, setup_dirs[-1], sqls[name])
                    verdicts[name] = stats.digests_match(Oracle.actual(j["dump"]), want)
                except Exception as e:  # an oracle that cannot run is a failure
                    log(f"oracle {name}: {e}")
                    verdicts[name] = False
            else:
                verdicts[name] = j.get("rows", 0) > 0
        oracle.save()
        oracle_s = time.time() - t_oracle
        attempted, failed = stats.count_failures(jobs, verdicts)
        errors = sorted({j["name"] for j in jobs if j.get("error")})
        mismatches = sorted(n for n, ok in verdicts.items() if not ok)
        if errors or mismatches:
            log("failed jobs:", errors, "mismatches:", mismatches)
        metrics = (per_layer(res) if args.trace
                   else end_to_end(res, setup_samples, attempted, failed))
        warm = [p for p in res["passes"] if not p["cold"]]
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": dict(res["host"], nproc=os.cpu_count(),
                         spark_graft_cpus=props["cpus"]),
            "generator": {"version": gen.GEN_VERSION, "replicas": REPLICAS,
                          "tables": tables},
            "pass_s": stats.summary([p["pass_s"] for p in warm]),
            "job_s": stats.summary([j["build_s"] + j["plan_s"] + j["exec_s"]
                                    for p in warm for j in p["jobs"]]),
            "pass_times_s": [round(p["pass_s"], 3) for p in res["passes"]],
            "setup": {"samples_s": setup_samples, "gen_s": gen_s,
                      "jvm_boot_s": res["main_epoch_ms"] / 1e3 - spawn_epoch,
                      "warmup_s": res["warmup_s"]},
            "wall_s": {"other": time.time() - t_start - jvm_s - oracle_s,
                       "jvm": jvm_s, "oracle": oracle_s},
            "errors": errors, "mismatches": mismatches,
        }
        if args.trace:
            os.makedirs(f"{HERE}/out", exist_ok=True)
            with open(f"{HERE}/out/trace-{args.workload}-{args.seed}.json", "w") as f:
                json.dump({"detail": detail, "spans": res["spans"],
                           "passes": res["passes"]}, f)
        print(json.dumps(detail))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        if child is not None:
            child.kill()
            child.wait()
        shutil.rmtree(work, ignore_errors=True)
        for p in ("target/graft-index", "spark-warehouse"):
            remove_tables(p, tag, existed[p])
        if not existed["target"] and os.path.isdir("target") and not os.listdir("target"):
            os.rmdir("target")
        if owned_lock:
            release_lock()


if __name__ == "__main__":
    main()
