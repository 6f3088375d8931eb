#!/usr/bin/env python3
"""The benchmark's single command.

    python3 perfbench/run.py --workload <dashboard|corpus|ingest|serve>
                             --seed <n> --seconds <s> --trace <0|1> [--small]

Run from the root of a checkout of the program. It builds the program
and the harness with sbt (once per source state, under .bench_build/),
generates the workload's inputs from --seed, runs the harness JVM
(local[4], one client thread), checks every output against results
computed apart from the program (oracle.py), and prints one JSON object
as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones. A `detail` line before it carries
the workload's own figures. --small shrinks every input for a quick
end-to-end pass (see selftest.py); its figures are not comparable.
"""
import argparse
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
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import oracle  # noqa: E402

DEADLINE_S = 170  # every run must end within 180 s
SETUPS = 3        # set-ups per run; setup_s is their median
BUDGET_S = 30     # wall-clock budget of one operation
WRITES = {"cycle", "append", "delete"}  # steps that publish; the rest read
LOOP = ("ops_per_s", "rows_per_s", "read_p50_ms", "publish_p50_ms", "cpu_ms_per_op")

DASHBOARD = ("q01_hourly_avg q02_minute_avg q03_last_entry q04_count_by_series "
             "q05_percentile q06_cost_report q07_rate q08_trapezoid q09_rollover "
             "q13_asof q24_battery_sim q26_conditional_agg q27_last_wins_upsert "
             "q28_timeofday_windows q29_lookback_last q31_readings_dsl "
             "q37_named_column q39_sql_view q40_thermostat_e2e "
             "q45_tapo_offset").split()
CORPUS = ("q81_tfidf_cosine q189_minhash16_pairs q190_minhash16_clusters "
          "q183_knn_pagerank").split()

# Input sizes per workload; the small mode divides them for a quick pass.
SIZES = {
    "dashboard": dict(rows=100_000, meters=1_500, days=30),
    "corpus": dict(docs=500, vecs=500, dim=64),
    # the dashboard's `events`, replayed from midday of its last day in
    # poll cycles of App.start's 60 s trigger
    "ingest": dict(rows=100_000, meters=1_500, days=30, start_day=29.5, cycle_s=60,
                   cycles=60, resend=0.1, late=0.1, per_round=4, tail_every=2),
    "serve": dict(base=6_000, append=200, batches=40, dim=64, queries=256,
                  delete=20, k=10, probes=2, batch=32, serves_per_step=2,
                  num_cells=8, num_sub=4, codebook_k=8, lloyd_iters=1),
}
SMALL = {
    "dashboard": dict(rows=5_000, meters=100, days=3),
    "corpus": dict(docs=120, vecs=120),
    "ingest": dict(rows=5_000, meters=100, days=3, start_day=2.5, cycles=12),
    "serve": dict(base=1_000, append=50, batches=6, queries=64),
}

# JDK 17 module access Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Content hash of everything the build reads."""
    h = hashlib.sha1()
    for base in ("src/main", "perfbench/src", "project"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, base))):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(p[len(ROOT):].encode())
                    h.update(open(p, "rb").read())
    for f in ("build.sbt", "perfbench/build.sbt"):
        h.update(open(os.path.join(ROOT, f), "rb").read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the JVM classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS", " ".join(opts)))
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as f:
        res = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850)
    lines = [x.strip() for x in open(log)]
    if res.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("".join(x + "\n" for x in lines[-30:]))
        fail("build failed (see .bench_build/sbt.log)", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def sizes(workload, small):
    return dict(SIZES[workload], **(SMALL[workload] if small else {}))


def make_inputs(workload, seed, small, out):
    """Generate the workload's inputs under `out`; return their sizes."""
    s = sizes(workload, small)
    rng = inputs.np.random.default_rng([seed, len(workload)])
    os.makedirs(out)
    if workload == "dashboard":
        inputs.events(rng, out, s["rows"], s["meters"], s["days"])
        # q39 registers every table as a view, so the corpus tables exist too
        inputs.documents(rng, out, 50)
        inputs.embeddings(rng, out, 50, 64)
        params = {"queries": ",".join(DASHBOARD)}
    elif workload == "corpus":
        inputs.documents(rng, out, s["docs"])
        inputs.embeddings(rng, out, s["vecs"], s["dim"])
        params = {"queries": ",".join(CORPUS)}
    elif workload == "ingest":
        day = inputs.replay_log(rng, out, s["rows"], s["meters"], s["days"],
                                s["start_day"], s["cycle_s"], s["cycles"],
                                s["resend"], s["late"])
        params = {"tail_day": day, "per_round": s["per_round"], "tail_every": s["tail_every"]}
    else:
        inputs.store_vectors(rng, out, s["base"], s["append"], s["batches"],
                             s["dim"], s["queries"], s["delete"])
        params = {k: s[k] for k in ("k", "probes", "batch", "serves_per_step",
                                    "num_cells", "num_sub", "codebook_k",
                                    "lloyd_iters", "queries")}
        params["append_batches"] = s["batches"]
    with open(os.path.join(out, "params.properties"), "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in params.items())
    return s


def run_jvm(cp, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}"]
           + ADD_OPENS + ["-cp", cp, "graft.perfbench.Harness"] + args)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("the harness ran past the run deadline", 4)
    if code != 0:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"the harness exited with {code}", 4)
    return json.load(open(os.path.join(work, "out", "run.json")))


def steal_jiffies():
    """CPU time the hypervisor gave to others (the host's noise), or 0."""
    try:
        return int(open("/proc/stat").readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["dashboard", "corpus", "ingest", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--small", action="store_true")
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.exists(os.path.join(ROOT, "build.sbt"))):
        fail("not run from a checkout of the program (no build.sbt or src/main/scala)")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    cp = build()
    deadline = max(deadline, time.monotonic() + 120)  # a fresh build gets its own time
    work = os.path.join(BUILD, "runs", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    steal0 = steal_jiffies()
    t0 = time.monotonic()
    sizes = make_inputs(a.workload, a.seed, a.small, os.path.join(work, "input"))
    gen_s = time.monotonic() - t0
    run = run_jvm(cp, ["--workload", a.workload, "--input", os.path.join(work, "input"),
                       "--work", work, "--seconds", str(a.seconds),
                       "--trace", str(a.trace), "--seed", str(a.seed),
                       "--setups", str(1 if a.small else SETUPS),
                       "--budget-s", str(BUDGET_S)], work, deadline)

    check = oracle.check(a.workload, work, run, sizes)
    ops = run["ops"]
    ok = [o for o in ops if o["error"] is None]
    counted = [o for o in ok if o["counted"]]
    writes = [o["ms"] for o in ok if o["name"] in WRITES]
    reads = [o["ms"] for o in ok if o["name"] not in WRITES]
    wall = run["wall_s"]
    figures = check["figures"]
    e2e = {
        "setup_s": gen_s + run["seed_s"] + median(run["setup_s"]),
        "ops_per_s": len(counted) / wall,
        "read_p50_ms": median(reads),
        "publish_p50_ms": median(writes),
        "cpu_ms_per_op": run["cpu_s"] * 1000 / max(1, len(counted)),
        "rows_per_s": run["workload"]["rows"] / wall,
        # the query workloads store nothing and answer exactly
        "stored_bytes_per_row": figures.get("stored_bytes_per_row", 0.0),
        "recall_at_k": figures.get("recall_at_k", 0.0),
        "heap_live_mb": run["heap_live_mb"],
    }
    elapsed = time.monotonic() - t0
    detail = dict(figures, gen_s=gen_s, seed_s=run["seed_s"], setups_s=run["setup_s"],
                  steal_share=(steal_jiffies() - steal0) / 100 / (4 * elapsed),
                  rounds=run["rounds"], wall_s=wall, jit_s=run["jit_s"],
                  cpu_s=run["cpu_s"], n_ops=len(counted))
    for kind in sorted({o["name"] for o in ok}):
        detail[f"{kind}_p50_ms"] = median([o["ms"] for o in ok if o["name"] == kind])
    if len(counted) >= 200:
        lat = sorted(o["ms"] for o in counted)
        detail["op_p95_ms"] = lat[int(0.95 * len(lat)) - 1]
    if a.trace:
        # the client loop's timings: too host-dependent here to gate (see
        # README, Noise), so they are per-layer figures of the traced run
        layers = dict(oracle.layer_figures(a.workload, run, check),
                      **{f"loop.{k}": e2e[k] for k in LOOP})
        wanted = spec["per_layer"]
    else:
        layers = e2e
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"detail": detail, "e2e": e2e}))
    for msg in check["errors"][:20]:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    print(json.dumps({"correct": not check["errors"],
                      "attempted": len(ops),
                      "failed": sum(o["error"] is not None for o in ops),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
