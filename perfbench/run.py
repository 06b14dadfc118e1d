#!/usr/bin/env python3
"""graft's end-to-end and per-layer benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the engine and the
benchmark's JVM side with sbt (perfbench/build.sbt) and generates the
data; both are cached under .perfbench/ in the checkout. Each run then:

  1. prepares the workload's dataset for the seed (datagen.py);
  2. launches the benchmark JVM (graft.perfbench.Main) and times its set-up
     from launch to a ready session;
  3. that JVM runs a cold first pass that also dumps every key's
     output outside its timed region, the host probes (--trace 1), the
     workload's unmeasured warm-up passes, and max(3, round(S /
     nominal_pass_s)) measured warm passes (see workloads.json);
  4. checks every timed sample's row count and every dumped output
     (checks.py), and measures what the engine left in java.io.tmpdir;
  5. deletes the run's own tmp, Spark local and warehouse directories;
  6. prints one JSON line: correct, attempted, failed and the metrics
     (end-to-end with --trace 0, per-layer with --trace 1).

Details (per-key phase times, self times, tail percentile, check
results) go to .perfbench/results/<workload>-seed<N>-trace<T>.json.

`--pin` rewrites perfbench/pins.json with the current fingerprints of the
workload's no-oracle keys; use it only when an output change is intended.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
PINS = os.path.join(HERE, "pins.json")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
SCALE_UP = os.path.join(ROOT, "scripts", "scale_up.py")
PREFLIGHT = os.path.join(ROOT, "scripts", "preflight.py")
DEDUP_KEYS = {"text_minhash_neardup", "text_ngram_jaccard",
              "pipeline_dedup_keep_banded", "pipeline_dedup_semantic",
              "vec_neardup_lsh"}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# Initial heap, the floor of the tier-1 heap formula. Left to the JVM, the
# initial heap is 1/64 of RAM and G1 grows it and sizes its young generation
# run by run; at these workloads' small live sets that sizing differed
# between runs of the same code and seed, and moved the interactive warm
# pass by up to 31% on a 4-vCPU, 15 GiB host.
HEAP_MIN = "2g"
# seconds a run may take after the build: the JVM is killed past this point
DEADLINE_S = 170

sys.path.insert(0, HERE)
import checks  # noqa: E402
import datagen  # noqa: E402
import stats  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def cpus():
    """Task slots of the benchmark session: half the CPUs this process may
    use. At these data sizes the JIT compiler keeps about one CPU busy
    through a whole run, beside the driver thread and GC. On a shared
    4-vCPU host, alternating runs of the grown workload read up to 36%
    apart with a task slot on every CPU, as the host's other tenants came
    and went, and no slower and within 13% with two slots."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def heap():
    """The tier-1 test heap: half of physical memory, 2g..8g."""
    gib = 0
    with open("/proc/meminfo") as f:
        for ln in f:
            if ln.startswith("MemTotal:"):
                gib = int(ln.split()[1]) // 2097152
    return f"{min(8, max(2, gib))}g"


def source_digest():
    h = hashlib.sha256()
    tops = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Classpath of the compiled benchmark JVM; compiles when sources
    changed."""
    d = os.path.join(STATE, "build")
    stamp, cp_file = os.path.join(d, "stamp"), os.path.join(d, "classpath")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(d, exist_ok=True)
    sbt_tmp = os.path.join(d, "tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    # sbt's server sockets and temporary files go to java.io.tmpdir
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={sbt_tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log("compiling the engine and the benchmark JVM side with sbt")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("sbt build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def dataset(w, seed):
    data = os.path.join(STATE, "data")
    base = os.path.join(data, f"base_sf{w['data']['base_sf']}")
    if not os.path.isdir(base):
        tmp = base + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.make_base(tmp, w["data"]["base_sf"])
        os.replace(tmp, base)
    factor = w["data"]["factor"]
    if factor == 1:
        return base
    grown = f"{base}_x{factor}_seed{seed}"
    if not os.path.isdir(grown):
        # keep the cache small: at most eight seeds per grown corpus
        olds = sorted((p for p in os.listdir(data)
                       if p.startswith(os.path.basename(base) + f"_x{factor}_")),
                      key=lambda p: os.path.getmtime(os.path.join(data, p)))
        for p in olds[:-7]:
            shutil.rmtree(os.path.join(data, p), ignore_errors=True)
        datagen.make_grown(base, grown, factor, seed, SCALE_UP)
    return grown


class Jvm:
    """The benchmark JVM, started in the run's own directories, killed if it is
    still running `deadline` seconds after launch."""

    def __init__(self, cp, rundir, args, log_file, deadline):
        tmp = os.path.join(rundir, "tmp")
        cmd = (["java"] + [a for p in ADD_OPENS for a in
                           ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + [f"-Xmx{heap()}", f"-Xms{HEAP_MIN}", "-Xss16m",
                  "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC",
                  f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                  "graft.perfbench.Main"] + args)
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(rundir, "local"))
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(cmd, cwd=rundir, env=env, text=True,
                                     stdout=subprocess.PIPE, stderr=log_file)
        self.watchdog = threading.Timer(max(1.0, deadline), self.proc.kill)
        self.watchdog.start()

    def ready(self):
        """Seconds from launch to the READY line, and its set-up stats."""
        for line in self.proc.stdout:
            if line.startswith("READY "):
                return time.perf_counter() - self.t0, json.loads(line[6:])
        self.stop()
        raise RuntimeError("benchmark JVM exited before its session was ready")

    def finish(self):
        self.proc.stdout.read()
        return self.proc.wait()

    def stop(self):
        self.watchdog.cancel()
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


def warm_passes(w, seconds):
    """Measured warm passes for a run of `seconds`.

    The count follows from the workload's nominal pass time on the
    reference host, not from the speed of the run itself: the engine is
    still warming up across these passes, so a faster commit that ran more
    of them in the same seconds would also read warmer, and a faster host
    would read faster still.
    """
    return max(3, round(seconds / w["nominal_pass_s"]))


def tree_bytes(path):
    total = 0
    for d, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, n)) for n in names)
    return total


def pass_sums(p, field):
    return sum(s[field] for s in p["samples"])


def exec_sum(p, field):
    return sum(s["exec"][field] for s in p["samples"])


def plan_sum(p, field):
    return sum(s["plan"][field] for s in p["samples"])


def end_to_end(setup_s, passes):
    warm = [p for p in passes if p["kind"] == "warm"]
    lat = [s["wall_s"] for p in warm for s in p["samples"] if s["ok"]]
    metrics = {
        "setup_s": (setup_s, "s"),
        "first_pass_s": (passes[0]["wall_s"], "s"),
        "pass_s": (stats.median([p["wall_s"] for p in warm]), "s"),
        "latency_p50_s": (stats.median(lat), "s"),
        "peak_heap_mb": (max(p["heap_after_gc_mb"] for p in passes), "MB"),
    }
    # The tail rule needs more than ten warm samples, which a grown run
    # does not have, so the tail is recorded only where it exists.
    tail = dict(zip(("value_s", "percentile", "samples"), stats.tail(lat))) \
        if len(lat) > 10 else {"samples": len(lat)}
    return metrics, {"latency_tail": tail}


def per_layer(res, passes, rundir_stats):
    cold = passes[0]
    warm = [p for p in passes if p["kind"] == "warm"]
    traced = [p for p in warm if p["traced"]]
    untraced = [p for p in warm if not p["traced"]]

    def med(f):
        return stats.median([f(p) for p in traced])

    def dedup(p):
        """Candidate rows (the widest join or generate output of the dedup
        keys' plans: band-bucket candidates) and the share of them kept."""
        ss = [s for s in p["samples"] if s["key"] in DEDUP_KEYS]
        cand = sum(max(s["plan"]["join_rows_max"], s["plan"]["generate_rows_max"])
                   for s in ss)
        return cand, (sum(s["rows"] for s in ss) / cand if cand else 0.0)

    def build_jobs(p):
        return sum(sum(1 for t in s["exec"]["job_starts_ms"]
                       if t <= s["build_end_ms"]) for s in p["samples"])

    def train(p, phase=None):
        return sum(v for k, v in p["train_s"].items()
                   if phase is None or k == phase)

    ncpu = res["cpus"]
    m = {
        "sessions.build_s": (res["setup"]["build_s"], "s"),
        "sessions.register_s": (res["setup"]["register_s"], "s"),
        "tables.input_bytes": (med(lambda p: exec_sum(p, "input_bytes")), "bytes"),
        "tables.input_rows": (med(lambda p: exec_sum(p, "input_rows")), "rows"),
        "node.scan_s": (med(lambda p: plan_sum(p, "scan_s")), "s"),
        "node.rows_examined_per_row_out": (med(
            lambda p: plan_sum(p, "scan_rows") / max(1, pass_sums(p, "rows"))),
            "ratio"),
        "operators.build_s": (med(lambda p: pass_sums(p, "build_s")), "s"),
        "operators.build_jobs": (med(build_jobs), "count"),
        "train.s": (train(cold), "s"),
        "train.kmeans_coarse_s": (train(cold, "kmeans_coarse"), "s"),
        "train.bpe_word_s": (train(cold, "bpe_word"), "s"),
        "train.warm_pass_s": (sum(train(p) for p in passes[1:]), "s"),
        "materialize.writes": (rundir_stats["materialize_writes"], "count"),
        "materialize.leaked_bytes": (rundir_stats["leaked_bytes"], "bytes"),
        "plans.analyze_s": (med(lambda p: pass_sums(p, "analyze_s")), "s"),
        "plans.optimize_s": (med(lambda p: pass_sums(p, "optimize_s")), "s"),
        "plans.physical_s": (med(lambda p: pass_sums(p, "physical_s")), "s"),
        "plans.exchanges": (med(lambda p: plan_sum(p, "exchanges")), "count"),
        "plans.nodes": (med(lambda p: plan_sum(p, "nodes")), "count"),
        "exec.stages_s": (med(lambda p: pass_sums(p, "stages_s")), "s"),
        "exec.final_s": (med(lambda p: pass_sums(p, "final_s")), "s"),
        "exec.jobs": (med(lambda p: exec_sum(p, "jobs")), "count"),
        "exec.stages": (med(lambda p: exec_sum(p, "stages")), "count"),
        "exec.tasks": (med(lambda p: exec_sum(p, "tasks")), "count"),
        "exec.task_run_s": (med(lambda p: exec_sum(p, "task_run_s")), "s"),
        "exec.task_cpu_s": (med(lambda p: exec_sum(p, "task_cpu_s")), "s"),
        "exec.slot_busy_frac": (med(lambda p: exec_sum(p, "task_run_s")
                                    / (pass_sums(p, "wall_s") * ncpu)), "ratio"),
        "shuffle.write_bytes": (med(lambda p: exec_sum(p, "shuffle_write_bytes")),
                                "bytes"),
        "shuffle.read_bytes": (med(lambda p: exec_sum(p, "shuffle_read_bytes")),
                               "bytes"),
        "shuffle.fetch_wait_s": (med(lambda p: exec_sum(p, "fetch_wait_s")), "s"),
        "spill.disk_bytes": (max(exec_sum(p, "spill_disk_bytes")
                                 for p in traced), "bytes"),
        "spill.memory_bytes": (max(exec_sum(p, "spill_memory_bytes")
                                   for p in traced), "bytes"),
        "mem.peak_execution_bytes": (max(s["exec"]["peak_execution_bytes"]
                                         for p in traced for s in p["samples"]),
                                     "bytes"),
        "node.sort_s": (med(lambda p: plan_sum(p, "sort_s")), "s"),
        "node.agg_s": (med(lambda p: plan_sum(p, "agg_s")), "s"),
        "node.join_build_s": (med(lambda p: plan_sum(p, "join_build_s")), "s"),
        "dedup.candidate_rows": (med(lambda p: dedup(p)[0]), "rows"),
        "dedup.kept_frac": (med(lambda p: dedup(p)[1]), "ratio"),
        "jvm.gc_s": (stats.median([p["gc_s"] for p in warm]), "s"),
        "host.probe_empty_tasks_s": (res["probes"]["empty_tasks_s"], "s"),
        "host.probe_sql_1stage_s": (res["probes"]["sql_1stage_s"], "s"),
        "host.probe_sql_2stage_s": (res["probes"]["sql_2stage_s"], "s"),
        "trace.pass_s": (med(lambda p: p["wall_s"]), "s"),
        "trace.untraced_pass_s": (stats.median([p["wall_s"] for p in untraced]),
                                  "s"),
    }
    return m


def per_key(passes):
    """Per-key medians over traced warm samples, with self times."""
    traced = [s for p in passes if p["kind"] == "warm" and p["traced"]
              for s in p["samples"]]
    out = {}
    for key in sorted({s["key"] for s in traced}):
        ss = [s for s in traced if s["key"] == key]
        mid = sorted(ss, key=lambda s: s["wall_s"])[len(ss) // 2]
        cold = next(s for s in passes[0]["samples"] if s["key"] == key)
        out[key] = {
            "wall_s": mid["wall_s"], "cold_wall_s": cold["wall_s"],
            "rows": mid["rows"],
            "self_s": dict(stats.self_times(stats.query_span(mid))),
            "exec": {k: v for k, v in mid["exec"].items()
                     if not k.endswith("_ms")},
            "plan": mid["plan"],
        }
    return out


def main():
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()
    start = time.perf_counter()
    for p in (ENGINE_SRC, SCALE_UP, PREFLIGHT):
        if not os.path.exists(p):
            fail(f"engine checkout incomplete: {os.path.relpath(p, ROOT)} "
                 "is missing; run from the root of a full graft checkout", 3)
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if a.workload not in workloads or "keys" not in workloads[a.workload]:
        fail(f"unknown workload {a.workload!r}", 2)
    w = workloads[a.workload]
    timeline = {}

    def mark(name):
        timeline[name] = time.perf_counter() - start
    cp = build()
    mark("build")
    data = dataset(w, a.seed)
    mark("data")
    keys = list(w["keys"])
    random.Random(a.seed).shuffle(keys)
    rundir = os.path.join(STATE, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(rundir, sub))
    log_path = os.path.join(STATE, "results",
                            f"{a.workload}-seed{a.seed}-trace{a.trace}")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    try:
        with open(log_path + ".log", "w") as jvm_log:
            out = os.path.join(rundir, "result.json")
            dump = os.path.join(rundir, "dump")
            j = Jvm(cp, rundir, ["run", str(cpus()), data, out,
                                 str(w["warmup_passes"]),
                                 str(warm_passes(w, a.seconds)), str(a.trace),
                                 dump] + keys,
                    jvm_log,
                    DEADLINE_S - (timeline["data"] - timeline["build"]))
            try:
                setup_s = j.ready()[0]
                mark("jvm_ready")
                code = j.finish()
                mark("jvm_done")
            finally:
                j.stop()
            if code != 0:
                fail(f"benchmark JVM exited with {code}; see {log_path}.log")
        with open(out) as f:
            res = json.load(f)
        tmp = os.path.join(rundir, "tmp")
        rt = [os.path.join(tmp, n) for n in os.listdir(tmp)
              if n.startswith("graft_rt_")]
        rundir_stats = {"materialize_writes": len(rt),
                        "leaked_bytes": sum(tree_bytes(p) for p in rt)}
        passes = res["passes"]
        pins = checks.load_pins(PINS, a.workload)
        if a.pin:
            pins = {k: dict(zip(("rows", "sha256"), checks.fingerprint(
                os.path.join(dump, k)))) for k in keys
                if k not in res["oracle_sql"]}
            allp = {}
            if os.path.exists(PINS):
                with open(PINS) as f:
                    allp = json.load(f)
            allp[a.workload] = dict(sorted(pins.items()))
            with open(PINS, "w") as f:
                json.dump(allp, f, indent=1, sort_keys=True)
                f.write("\n")
            log(f"pinned {sorted(pins)}")
        exp = checks.Expectations(ROOT, data, tmp, res["oracle_sql"], pins)
        attempted, failed, problems = checks.check_run(exp, passes, keys, dump)
        mark("checks")
        for k, v in problems.items():
            log(f"FAIL {k}: {'; '.join(v[:3])}")
        if a.trace == 0:
            metrics, extra = end_to_end(setup_s, passes)
        else:
            metrics, extra = per_layer(res, passes, rundir_stats), {
                "per_key": per_key(passes)}
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    mark("end")
    detail = {"workload": a.workload, "seed": a.seed, "keys": keys,
              "timeline_s": timeline, "jvm_timeline_s": res["timeline_s"],
              "data": os.path.relpath(data, ROOT),
              "data_sha256": datagen.digest(data), "cpus": cpus(),
              "heap": heap(), "problems": problems,
              "metrics": {k: v[0] for k, v in metrics.items()}, **extra,
              "passes": [dict({k: v for k, v in p.items() if k != "samples"},
                              key_wall_s={s["key"]: s["wall_s"]
                                          for s in p["samples"]})
                         for p in passes]}
    with open(log_path + ".json", "w") as f:
        json.dump(detail, f, indent=1)
    log(f"details in {os.path.relpath(log_path, ROOT)}.json")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
