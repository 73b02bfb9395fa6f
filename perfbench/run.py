#!/usr/bin/env python3
"""Benchmark of the graft MapReduce engine and its versioned-KV state layer.

One run measures one workload in fresh JVMs launched through
``tools/run_main.sh``, so the program's own JVM flags and ``-Dspark.*``
defaults apply.  One client submits one job at a time (a closed loop) and
submits the next only after the previous job's output is committed.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --all [--seed N] [--seconds S]
    python3 perfbench/run.py --selfcheck [--seconds S]

A run builds the program and the harness from source when they changed
(``sbt compile`` in ``perfbench/harness``, whose build depends on the
program's own build), generates the workload's inputs from the seed (cached
by workload, seed and size), then:

* launches the harness ``LAUNCHES[workload]`` times.  Each process sets up and runs
  a cold job; the first one then runs ``WARMUP_JOBS`` discarded warm-up
  jobs and timed jobs for ``--seconds``.  One fresh JVM gives one sample of
  ``setup_s`` (process launch to a ready SparkSession with the inputs
  registered) and of ``cold_job_s``, so ``setup_s`` is the median over the
  processes and ``cold_job_s`` the fastest of their cold jobs (interference
  from other tenants of the host only ever adds time);
* checks the committed output of the cold job and of every timed job
  against the workload's oracle, outside the timed region.  A mismatch or
  an exception is a failed job and the command exits non-zero.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, and the spans go to
``.bench_work/traces/``.  Every run's provenance (load, CPU steal, nproc,
JVM args, source digest, seed, warm-up count) is written with its numbers
to ``.bench_work/results/`` and echoed on a ``provenance:`` line.

``--selfcheck`` runs two sets of ``SELFCHECK_RUNS`` runs of the same code
and prints, per workload and end-to-end metric, both medians and both
spreads against the bound in BENCHMARK.json.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")

sys.path.insert(0, HERE)
import gen  # noqa: E402

# Inputs per workload.  A warm job takes about a second on four cores.
SIZES = {
    "mr_wc_zipf": {"files": 8, "file_bytes": 1 << 20, "vocab": 50000},
    "kv_cas_zipf": {"ops": 750_000, "keys": 200_000, "files": 8},
}
# Heap floor and ceiling.  The launcher's own default ceiling is 8g; with
# -Xms8g a run on a 4-core VM with 15 GB grew to 5.7 GB resident and its
# timed wc jobs wandered from 0.78 to 1.30 s as they first touched fresh
# heap pages, so the benchmark sets the launcher's SPARK_DRIVER_MEM to 1g
# and pins -Xms to the same figure.
HEAP = "1g"
# Processes per run, each giving a set-up and a cold job.  Over 20 runs on a
# shared 4-core VM, the spread (quartile distance over median) of one cold
# job was 0.25 for wc and 0.12 for the KV replay, and the faster of two cold
# jobs brought it to 0.20 and 0.10.  The wc cold job's CPU seconds vary
# with its wall time, so the noise is not only time spent waiting for a CPU;
# wc gets a third process.
LAUNCHES = {"mr_wc_zipf": 3, "kv_cas_zipf": 2}
WARMUP_JOBS = 6    # discarded jobs after the cold one
RUN_DEADLINE_S = 170
BUILD_TIMEOUT_S = 850
CACHED_INPUTS = 24  # input sets kept per workload
SELFCHECK_RUNS = 10  # runs per set and workload, each with its own seed


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _program_present():
    need = ["build.sbt", "src/main/scala", "tools/run_main.sh"]
    missing = [p for p in need if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        raise BenchError(f"program sources missing from {ROOT}: {', '.join(missing)}")


def _source_digest():
    """Digest of everything the build reads."""
    h = hashlib.sha256()
    files = []
    for pattern in ["build.sbt", "project/*.sbt", "project/*.scala",
                    "project/build.properties", "src/main/**/*",
                    "perfbench/harness/build.sbt",
                    "perfbench/harness/project/build.properties",
                    "perfbench/harness/src/**/*"]:
        files += [f for f in glob.glob(os.path.join(ROOT, pattern), recursive=True)
                  if os.path.isfile(f)]
    for f in sorted(set(files)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the program and the harness unless the sources are unchanged,
    and merges both into one classes directory for ``tools/run_main.sh``."""
    digest = _source_digest()
    stamp = os.path.join(BUILD, "stamp")
    classes = os.path.join(BUILD, "classes")
    if (os.path.exists(stamp) and open(stamp).read() == digest
            and os.path.exists(os.path.join(classes, "perfbench", "Harness.class"))):
        return digest
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log("perfbench: building the program and the harness")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = _wait(["sbt", "--batch", "-Dsbt.log.noformat=true",
                    "-Dsbt.server.autostart=false", "compile"],
                   os.path.join(HERE, "harness"), env, out, BUILD_TIMEOUT_S)
    if rc != 0:
        tail = open(os.path.join(BUILD, "build.log")).read()[-3000:]
        raise BenchError(f"build failed (exit {rc}):\n{tail}")
    program = sorted(glob.glob(os.path.join(ROOT, "target", "scala-*", "classes")))
    harness = glob.glob(os.path.join(BUILD, "harness", "scala-*", "classes"))
    if not program or not harness:
        raise BenchError("build produced no classes")
    shutil.rmtree(classes, ignore_errors=True)
    shutil.copytree(program[-1], classes)
    shutil.copytree(harness[0], classes, dirs_exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return digest


def _wait(cmd, cwd, env, out, timeout):
    """Runs ``cmd`` in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise BenchError(f"{cmd[0]} timed out after {timeout:.0f} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


# --------------------------------------------------------------- inputs

def inputs(workload, seed):
    """Returns the input directory for (workload, seed, size), generating it
    once.  Generation is not part of any measured time."""
    size = SIZES[workload]
    tag = hashlib.sha256(json.dumps(size, sort_keys=True).encode()).hexdigest()[:8]
    base = os.path.join(WORK, "inputs")
    path = os.path.join(base, f"{workload}-s{seed}-{tag}")
    if not os.path.exists(os.path.join(path, "ready")):
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, size, tmp)
        open(os.path.join(tmp, "ready"), "w").close()
        os.rename(tmp, path)
        _prune(base, workload)
        os.sync()  # so the write-back does not fall into the measured set-ups
    os.utime(path)
    return path


def _prune(base, workload):
    sets = sorted(glob.glob(os.path.join(base, f"{workload}-s*")), key=os.path.getmtime)
    for old in sets[:-CACHED_INPUTS]:
        shutil.rmtree(old, ignore_errors=True)


# ---------------------------------------------------------------- launch

def _nproc():
    return len(os.sched_getaffinity(0))


def launch(workload, inp, name, deadline, extra):
    """Runs the harness once in a fresh JVM; returns its result file."""
    result = os.path.join(WORK, "tmp", f"{name}.json")
    jobs = os.path.join(WORK, "out", name)  # this launch's job outputs
    logfile = os.path.join(WORK, "logs", f"{name}.log")
    for d in ("tmp", "logs", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    env = dict(os.environ)
    env.update({
        "GRAFT_CLASSES": os.path.relpath(os.path.join(BUILD, "classes"), ROOT),
        "SPARK_GRAFT_CPUS": str(_nproc()),
        "SPARK_DRIVER_MEM": HEAP,
        "EXTRA_JAVA_OPTS": f"-Xms{HEAP} -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
    })
    if os.path.exists(result):
        os.remove(result)
    launch_ms = int(time.time() * 1000)
    cmd = ["bash", "tools/run_main.sh", "perfbench.Harness",
           "--workload", workload, "--input", inp, "--out", jobs,
           "--result", result, "--launch-ms", str(launch_ms)] + extra
    with open(logfile, "w") as out:
        rc = _wait(cmd, ROOT, env, out, deadline - time.time())
    shutil.rmtree(jobs, ignore_errors=True)
    if rc != 0 or not os.path.exists(result):
        tail = open(logfile).read()[-2000:]
        raise BenchError(f"harness exited {rc} ({workload}):\n{tail}")
    with open(result) as fh:
        return json.load(fh)


# ----------------------------------------------------------- provenance

def _cpu_jiffies():
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields[:8]), fields[7]  # total (user..steal), steal


def _loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _git_sha():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def summarize(launches):
    """End-to-end metrics and job accounting of one run.  Every launch ran a
    cold job; the first one also ran the warm-up and timed jobs.  The cold
    and the timed jobs, whose outputs are checked, count as attempted, and
    so does a warm-up job that raised; a job fails when it raised or its
    output did not match the oracle."""
    jobs = [j for s in launches for j in s["jobs"]]
    counted = [j for j in jobs if j["phase"] != "warmup" or j.get("error")]
    failed = sum(1 for j in counted if not j.get("ok") or j.get("error"))
    timed = [j for j in jobs if j["phase"] == "timed" and not j["traced"]]
    metrics = {
        "setup_s": median([s["setup"]["total_s"] for s in launches]),
        "cold_job_s": min(j["wall_s"] for j in jobs if j["phase"] == "cold"),
        "job_s.p50": median([j["wall_s"] for j in timed]),
        "cpu_s.p50": median([j["cpu_s"] for j in timed]),
    }
    return {"correct": failed == 0, "attempted": len(counted), "failed": failed,
            "metrics": metrics, "timed_jobs": len(timed)}


def layer_metrics(workload, launches):
    """Per-layer figures of a traced run.  A layer the workload does not run
    (the ``state`` layer on a MapReduce workload, ``apps`` on the KV replay)
    reads 0."""
    values = dict(launches[0]["layers"])
    for k in ("jvm_s", "session_s", "input_s"):
        values[f"setup.{k}"] = median([s["setup"][k] for s in launches])
    if workload == "kv_cas_zipf":
        values["state.fold_stage_s"] = values["engine.reduce_stage_s"]
    return values


def self_times(spans):
    """Per span name: total time minus the part its children cover."""
    children = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        if lo is None or hi is None:
            continue
        cover, cur = 0.0, lo
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ms"]):
            a, b = max(c["start_ms"], cur), min(c["end_ms"], hi)
            if b > a:
                cover += b - a
                cur = b
        rec = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        rec["count"] += 1
        rec["total_s"] += (hi - lo) / 1e3
        rec["self_s"] += (hi - lo - cover) / 1e3
    return out


def check_state_counts(inp, layers):
    """The traced KV run's op counts must equal the generator's closed form."""
    with open(os.path.join(inp, "oracle.json")) as fh:
        want = json.load(fh)
    got = {k: int(layers[f"state.{k}"]) for k in ("ops", "applied", "rejected", "maybe")}
    bad = {k: (got[k], want[k]) for k in got if got[k] != want[k]}
    if bad:
        log(f"perfbench: state counts differ from the closed form: {bad}")
    return not bad


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_one(workload, seed, seconds, trace, corrupt=-1):
    """One run; returns the result object for the last stdout line."""
    spec = load_spec()
    start = time.time()
    _program_present()
    source = build()
    inp = inputs(workload, seed)
    deadline = time.time() + RUN_DEADLINE_S
    load0, (tot0, steal0) = _loadavg(), _cpu_jiffies()
    stamp = time.strftime("%Y%m%dT%H%M%S") + f"-{workload}-s{seed}-t{int(trace)}"
    loop = ["--seconds", str(seconds), "--warmup-jobs", str(WARMUP_JOBS)]
    main = launch(workload, inp, f"{stamp}-main", deadline,
                  loop + ["--trace", "1" if trace else "0", "--corrupt", str(corrupt)])
    launches = [main] + [launch(workload, inp, f"{stamp}-cold{i}", deadline,
                                loop + ["--cold-only"])
                         for i in range(1, LAUNCHES[workload])]
    tot1, steal1 = _cpu_jiffies()

    summary = summarize(launches)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if trace:
        values = layer_metrics(workload, launches)
        if workload == "kv_cas_zipf" and not check_state_counts(inp, values):
            summary["failed"] += 1
            summary["correct"] = False
        names = [m["name"] for m in spec["per_layer"]]
        trace_file = os.path.join(WORK, "traces", f"{stamp}.json")
        os.makedirs(os.path.dirname(trace_file), exist_ok=True)
        with open(trace_file, "w") as fh:
            json.dump({"spans": main["spans"], "self_times": self_times(main["spans"]),
                       "layers": values}, fh)
    else:
        values = summary["metrics"]
        names = [m["name"] for m in spec["end_to_end"]]
        trace_file = None
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": units[n]} for n in names}

    provenance = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": bool(trace),
        "warmup_jobs": WARMUP_JOBS, "launches": LAUNCHES[workload], "timed_jobs": summary["timed_jobs"],
        "nproc": _nproc(), "heap": HEAP, "cpus_in_jvm": main["cpus"],
        "loadavg_start": load0, "loadavg_end": _loadavg(),
        "steal_pct": 100.0 * (steal1 - steal0) / max(1, tot1 - tot0),
        "jvm_args": main["jvm_args"], "git_sha": _git_sha(), "source_sha256": source,
        "size": SIZES[workload], "input": os.path.relpath(inp, ROOT),
        "oracle": main["oracle"], "wall_s": time.time() - start, "trace_file": trace_file,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{stamp}.json"), "w") as fh:
        json.dump({"provenance": provenance, "metrics": metrics,
                   "jobs": [dict(j, launch=i) for i, s in enumerate(launches)
                            for j in s["jobs"]],
                   "setups": [s["setup"] for s in launches]}, fh, indent=1)
    print("provenance: " + json.dumps(provenance), flush=True)
    return {"correct": summary["correct"], "attempted": summary["attempted"],
            "failed": summary["failed"], "metrics": metrics}


# ------------------------------------------------------------ modes

def _subrun(workload, seed, seconds):
    """One untraced run in a fresh process, as a single invocation makes it."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise BenchError(f"{workload} seed {seed} failed (exit {p.returncode}):\n"
                         f"{p.stderr[-2000:]}{lines[-1] if lines else ''}")
    return json.loads(lines[-1])


def spread(xs):
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def compare(first, second, bound):
    """Medians, spreads and the relative shift of two sets of one metric.
    The sets agree when both spreads and the shift, either way, are within
    the bound."""
    m1, m2 = statistics.median(first), statistics.median(second)
    s1, s2 = spread(first), spread(second)
    shift = (m2 - m1) / m1
    return {"median": [m1, m2], "spread": [s1, s2], "shift": shift,
            "ok": abs(shift) <= bound and max(s1, s2) <= bound}


def selfcheck(seconds):
    """Two sets of ``SELFCHECK_RUNS`` runs per workload; reports medians and
    spreads against the bounds.  Fails if, for any metric, either set's
    spread or the shift between the medians (either way) exceeds the bound."""
    spec = load_spec()
    workloads = [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    runs = SELFCHECK_RUNS
    sets = []
    for k in range(2):
        got = {w: [] for w in workloads}
        for i in range(runs):
            for w in workloads:
                got[w].append(_subrun(w, 1000 * k + i + 1, seconds))
                log(f"selfcheck set {k + 1} run {i + 1}/{runs} {w}: " + json.dumps(
                    {n: round(v["value"], 4) for n, v in got[w][-1]["metrics"].items()}))
        sets.append(got)
    ok = True
    rows = []
    print(f"{'workload':16} {'metric':11} {'median1':>9} {'median2':>9} {'shift':>7} "
          f"{'spread1':>8} {'spread2':>8} {'bound':>6}  verdict")
    for w in workloads:
        if not all(r["correct"] for s in sets for r in s[w]):
            ok = False
            print(f"{w}: some runs were not correct")
        for name, bound in bounds.items():
            vals = [[r["metrics"][name]["value"] for r in s[w]] for s in sets]
            c = compare(vals[0], vals[1], bound)
            ok &= c["ok"]
            steady = max(c["spread"]) < bound / 3
            verdict = ("ok" if c["ok"] else "FAIL") + ("" if steady else " (spread > bound/3)")
            print(f"{w:16} {name:11} {c['median'][0]:9.4f} {c['median'][1]:9.4f} "
                  f"{c['shift']:+7.3f} {c['spread'][0]:8.4f} {c['spread'][1]:8.4f} "
                  f"{bound:6.3f}  {verdict}")
            rows.append(dict(c, workload=w, metric=name, values=vals, bound=bound))
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           time.strftime("%Y%m%dT%H%M%S") + "-selfcheck.json"), "w") as fh:
        json.dump(rows, fh, indent=1)
    return ok


def run_all(seed, seconds):
    """Every workload in BENCHMARK.json once, untraced; a table, then one JSON line."""
    workloads = [w["name"] for w in load_spec()["workloads"]]
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in workloads:
        r = _subrun(w, seed, seconds)
        for name, m in r["metrics"].items():
            print(f"{w:16} {name:11} {m['value']:10.4f} {m['unit']}")
            total["metrics"][f"{w}/{name}"] = m
        total["correct"] &= r["correct"]
        total["attempted"] += r["attempted"]
        total["failed"] += r["failed"]
    return total


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--selfcheck", action="store_true")
    # Test hook: corrupt this job's committed output before it is checked.
    ap.add_argument("--corrupt-job", type=int, default=-1, help=argparse.SUPPRESS)
    a = ap.parse_args()
    # A SIGTERM unwinds through _wait, which kills the harness it started.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if a.seconds is None:
            a.seconds = load_spec()["run_seconds"]
        if a.selfcheck:
            sys.exit(0 if selfcheck(a.seconds) else 1)
        if a.all:
            result = run_all(a.seed, a.seconds)
        else:
            if a.workload not in SIZES:
                raise BenchError(f"unknown workload {a.workload!r}; known: {sorted(SIZES)}")
            result = run_one(a.workload, a.seed, a.seconds, a.trace, a.corrupt_job)
    except (BenchError, OSError, subprocess.SubprocessError, ValueError, KeyError) as e:
        log(f"perfbench: {e}")
        sys.exit(2)
    print(json.dumps(result), flush=True)
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
