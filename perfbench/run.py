#!/usr/bin/env python3
"""Benchmark of the graft registry: timed passes over a workload's queries.

    python3 perfbench/run.py --workload dataframe-api --seed 1 --seconds 25 --trace 0
    python3 perfbench/run.py --workload all          # every workload, both modes

Run from the repository root. The first run builds the repository and
the harness with sbt (cached in .perfbench/build by a hash of the
sources and of the compiled classes). Each run then generates the
fixture, starts one JVM on local[nproc] whose first pass writes every
query's result for the DuckDB oracle check, runs an untimed warm-up
pass, then times a fixed number of passes (--seconds over the
workload's nominal pass time), and prints one JSON
line: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1 (plus a per-query ledger and the spans under .perfbench/).
The seed fixes the query order; every pass of a run uses that order.
One client runs the queries one after another (a closed loop).
"""
import argparse
import ctypes
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixture  # noqa: E402
import stats  # noqa: E402
from ledger_diff import COUNT_FIELDS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# Environment dials that change what the registry computes or prints;
# they are removed from the measured process and recorded in the output.
SCRUB_PREFIX = "SPARK_GRAFT_"
# Heap floor and ceiling. Without the floor G1 shrinks the heap to the
# live set at each query's System.gc(), every large allocation then
# starts a concurrent cycle, and runs of one seed differed fourfold in
# GC pause time and by a quarter in pass_s.
JVM_HEAP_MIN = "1g"
JVM_HEAP = "3g"
MIN_PASSES = 3
# A run's time limit after the build: JVM and SparkContext start, then
# the verify, warm-up and timed passes, each allowed several times the
# workload's nominal pass wall (the cold verify pass takes 2-4 times it).
SETUP_ALLOWANCE_S = 60
SLOW_PASS_FACTOR = 4

END_TO_END = [("pass_s", "s"), ("query_geomean_s", "s"), ("setup_s", "s"),
              ("peak_rss_mb", "MB")]
PER_LAYER = [
    ("registry.build_s", "s"), ("registry.build_jobs", "count"),
    ("tables.inference_jobs", "count"), ("tables.inference_s", "s"),
    ("memo.checkpoint_jobs", "count"), ("memo.cached_mb_peak", "MB"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("catalyst.exchanges", "count"),
    ("dispatch.jobs", "count"), ("dispatch.stages", "count"),
    ("dispatch.tasks", "count"), ("dispatch.core_busy", "ratio"),
    ("execution.cpu_s", "s"), ("execution.gc_s", "s"),
    ("execution.shuffle_write_mb", "MB"), ("execution.shuffle_read_mb", "MB"),
    ("execution.spill_mb", "MB"), ("execution.output_rows", "count"),
    ("sink.output_mb", "MB"), ("sink.files", "count"),
    ("trace.overhead_pct", "%")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die_with_parent():
    """In the child: get SIGKILL when this process ends, however it ends."""
    ctypes.CDLL(None).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def run_child(cmd, env, cwd, limit, out_path):
    """Run cmd in its own process group; kill the group on timeout."""
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True,
                             preexec_fn=die_with_parent)
        try:
            return p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{cmd[0]} did not finish within {limit:.0f} s; see {out_path}")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def class_stamp(args):
    """Hash of the names, sizes and mtimes of every classpath entry, or
    None if one is missing. Classes compiled outside the benchmark (an
    `sbt compile` at the root, a `clean`) change it."""
    h = hashlib.sha256()
    for entry in args[args.index("-cp") + 1].split(os.pathsep):
        if not os.path.exists(entry):
            return None
        files = [entry]
        if os.path.isdir(entry):
            files = sorted(os.path.join(d, n)
                           for d, _, names in os.walk(entry) for n in names)
        for f in files:
            st = os.stat(f)
            h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the repository and the harness; return the java arguments
    that launch the harness (JVM options and classpath)."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} next to the benchmark: run it from a checkout "
                 "of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    bdir = os.path.join(WORK, "build")
    os.makedirs(bdir, exist_ok=True)
    stamp = source_stamp()
    cache = os.path.join(bdir, f"launch.{stamp[:16]}.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            cached = json.load(fh)
        if class_stamp(cached["args"]) == cached["classes"]:
            return cached["args"], stamp
    env = dict(os.environ)
    opts = env.get("SBT_OPTS", "-Xmx2g")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "sbt.repository.config" not in opts:
        opts += (" -Dsbt.override.build.repos=true"
                 f" -Dsbt.repository.config={repos}")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(bdir, "sbt.log")
    args_path = os.path.join(HERE, "target", "launch-args")
    if os.path.exists(args_path):
        os.remove(args_path)
    log("building with sbt")
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchArgs"],
                   env, HERE, 850, log_path)
    if rc != 0 or not os.path.exists(args_path):
        fail(f"sbt build failed (rc={rc}); see {log_path}")
    with open(args_path) as fh:
        args = fh.read().splitlines()
    for old in os.listdir(bdir):
        if old.startswith("launch."):
            os.remove(os.path.join(bdir, old))
    with open(cache, "w") as fh:
        json.dump({"args": args, "classes": class_stamp(args)}, fh)
    return args, stamp


def cpu_ticks():
    """(steal, total) ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def environment(stamp, scrubbed, result, steal_pct):
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True,
                             timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {"git_sha": sha, "source_sha256": stamp,
            "nproc": len(os.sched_getaffinity(0)),
            "spark_version": result["spark_version"], "jvm": result["java"],
            "scrubbed_env": scrubbed, "session_conf": result["conf"],
            "cpu_steal_pct": steal_pct}


def per_pass(rows, key):
    return sum(r.get(key) or 0 for r in rows)


def layer_metrics(traced, untraced, cores):
    """Per-layer metrics: medians over traced passes of per-pass sums."""
    def med(f):
        return stats.median(f(p["queries"]) for p in traced)
    mb = 1024.0 * 1024.0

    def s(key, scale=1.0):
        return med(lambda rows: per_pass(rows, key) / scale)

    def busy(rows):
        wall = per_pass(rows, "action_s")
        return per_pass(rows, "execute_run_s") / (cores * wall) if wall else 0
    m = {
        "registry.build_s": s("build_s"),
        "registry.build_jobs": s("build_jobs"),
        "tables.inference_jobs": s("inference_jobs"),
        "tables.inference_s": s("inference_s"),
        "memo.checkpoint_jobs": s("checkpoint_jobs"),
        "memo.cached_mb_peak": stats.median(
            p["storage_peak_b"] / mb for p in traced),
        "catalyst.analysis_s": s("analysis_s"),
        "catalyst.optimization_s": s("optimization_s"),
        "catalyst.planning_s": s("planning_s"),
        "catalyst.exchanges": s("exchanges"),
        "dispatch.jobs": s("jobs"), "dispatch.stages": s("stages"),
        "dispatch.tasks": s("tasks"), "dispatch.core_busy": med(busy),
        "execution.cpu_s": s("cpu_s"), "execution.gc_s": s("gc_s"),
        "execution.shuffle_write_mb": s("shuffle_write_b", mb),
        "execution.shuffle_read_mb": s("shuffle_read_b", mb),
        "execution.spill_mb": s("spill_b", mb),
        "execution.output_rows": s("output_rows"),
        "sink.output_mb": s("output_b", mb), "sink.files": s("files"),
        "trace.overhead_pct": 100.0 * (
            stats.median(p["sum_s"] for p in traced)
            / stats.median(p["sum_s"] for p in untraced) - 1.0),
    }
    return m


def ledger(traced):
    """Per-query layer ledger over the traced passes."""
    out = {}
    names = [r["name"] for r in traced[0]["queries"]]
    for name in names:
        rows = [r for p in traced for r in p["queries"] if r["name"] == name]
        entry = {}
        for f in COUNT_FIELDS:
            entry[f] = stats.count_fields_varying([r[f] for r in rows])
        for f in ("build_s", "cpu_s", "shuffle_write_b", "shuffle_read_b",
                  "spill_b"):
            entry[f] = stats.median(r[f] for r in rows)
        entry["plan_s"] = stats.median(
            r["analysis_s"] + r["optimization_s"] + r["planning_s"]
            for r in rows)
        entry["execute_s"] = stats.median(
            r["action_s"] - r["analysis_s"] - r["optimization_s"]
            - r["planning_s"] for r in rows)
        out[name] = entry
    return out


def run_workload(name, seed, seconds, trace):
    wl = WORKLOADS[name]
    launch, stamp = build()
    import oracle  # uses the repo's scripts/check.py, present after build()
    t_setup = time.time()
    scrubbed = {k: v for k, v in os.environ.items()
                if k.startswith(SCRUB_PREFIX)}
    env = {k: v for k, v in os.environ.items() if k not in scrubbed}
    work = os.path.join(WORK, name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    fix_dir = fixture.generate(os.path.join(work, "fixture"), wl.get("docs"))
    groups = [list(g) for g in wl["groups"]]
    random.Random(seed).shuffle(groups)
    queries = [q for g in groups for q in g]
    cores = len(os.sched_getaffinity(0))
    # --seconds sets how many passes are timed, through the workload's
    # nominal pass time on a 4-core host; never through the host's speed.
    n_passes = max(MIN_PASSES, round(seconds / wl["nominal_pass_s"]))
    cmd = (["java", f"-Xms{JVM_HEAP_MIN}", f"-Xmx{JVM_HEAP}",
            # No hsperfdata file in the system temp directory.
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
           + launch + ["perfbench.Harness", "--fixture", fix_dir,
              "--work", work, "--queries", ",".join(queries),
              "--passes", str(n_passes), "--trace", "1" if trace else "0",
              "--sink", wl["sink"], "--cores", str(cores)])
    # The build is outside this limit: only a checkout's first run pays it.
    limit = SETUP_ALLOWANCE_S + SLOW_PASS_FACTOR * (
        n_passes + 2) * wl["nominal_pass_s"] - (time.time() - t_setup)
    # CPU time the hypervisor gave to other guests slows every pass of a
    # run alike; it is the main run-to-run noise on a shared host.
    steal0, total0 = cpu_ticks()
    rc = run_child(cmd, env, ROOT, limit, os.path.join(work, "jvm.log"))
    steal1, total1 = cpu_ticks()
    steal_pct = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"harness exited with {rc}")
    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)

    # Correctness: the run's one oracle-checked write of every query.
    verdict = {}
    oracle_res = oracle.check(fix_dir, os.path.join(work, "verify"),
                              res["oracle"])
    for v in res["verify"]:
        verdict[v["name"]] = v["error"] or oracle_res.get(v["name"], "no oracle")
    for v in res["warmup"]:
        verdict[v["name"]] = verdict[v["name"]] or v["error"]
    bad = {q: why for q, why in verdict.items() if why}
    passes = res["passes"]
    attempted = sum(len(p["queries"]) for p in passes)
    failed = sum(1 for p in passes for r in p["queries"]
                 if r["error"] or r["name"] in bad)
    for q, why in sorted(bad.items()):
        log(f"FAIL {q}: {why}")
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    envinfo = environment(stamp, scrubbed, res, steal_pct)
    print("env " + json.dumps(envinfo, sort_keys=True))
    n = len(untraced)
    if trace:
        metrics = layer_metrics(traced, untraced, cores)
        units = dict(PER_LAYER)
        led = ledger(traced)
        lost = sorted({r["name"] for p in traced for r in p["queries"]
                       if not r["action_found"]})
        if lost:
            log("no query execution seen for the action of "
                f"{', '.join(lost)}: their catalyst.* figures are missing")
        path = os.path.join(WORK, f"ledger-{name}-seed{seed}.json")
        with open(path, "w") as fh:
            json.dump(led, fh, indent=1, sort_keys=True)
        spans_path = os.path.join(work, "spans.jsonl")
        with open(spans_path) as fh:
            spans = [json.loads(ln) for ln in fh]
        self_ms = stats.span_self_time(spans)
        by_kind = {}
        for sp in spans:
            by_kind[sp["kind"]] = by_kind.get(sp["kind"], 0) + self_ms[sp["id"]]
        log(f"ledger: {path}; spans: {spans_path}; self time by span kind "
            f"(ms): {json.dumps(by_kind, sort_keys=True)}")
        n = len(traced)
    else:
        walls = {}
        for p in untraced:
            for r in p["queries"]:
                walls.setdefault(r["name"], []).append(r["wall_s"])
        # Host noise only ever slows a pass down, so the fastest sample is
        # the steadiest estimate of the program's own cost.
        metrics = {
            "pass_s": min(p["sum_s"] for p in untraced),
            "query_geomean_s": stats.geomean(min(w) for w in walls.values()),
            "setup_s": res["first_timed_epoch_ms"] / 1000.0 - t_setup,
            "peak_rss_mb": stats.median(p["peak_rss_mb"] for p in untraced),
        }
        units = dict(END_TO_END)
    ratio = stats.fail_ratio(failed, attempted)
    for k, v in metrics.items():
        samples = 1 if k == "setup_s" else n
        print(f"{name} {k} = {v:.6g} {units[k]} (n={samples})")
    print(f"{name} fail_ratio = {ratio:.6g} ratio (n={attempted})")
    return {"correct": not bad and failed == 0, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    help="one of %s, or all" % ", ".join(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload == "all":
        ok = True
        for w in WORKLOADS:
            for t in (0, 1):
                r = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--workload", w,
                     "--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--trace", str(t)], capture_output=True, text=True)
                sys.stderr.write(r.stderr[-2000:] if r.returncode else "")
                lines = r.stdout.strip().splitlines()
                for ln in lines[:-1]:
                    if not ln.startswith("env "):
                        print(ln)
                ok = ok and r.returncode == 0 and bool(lines) and \
                    json.loads(lines[-1])["correct"]
        print(json.dumps({"correct": ok}))
        sys.exit(0 if ok else 1)
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}")
    print(json.dumps(run_workload(a.workload, a.seed, a.seconds, a.trace == 1)))


if __name__ == "__main__":
    main()
