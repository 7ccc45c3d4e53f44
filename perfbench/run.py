#!/usr/bin/env python3
"""Benchmark of the courier-ledger engine: the daily delivery DAG and
persisted-ANN serving, measured from outside the program.

    python3 perfbench/run.py --workload dag_daily --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (offline) and caches the classpath under `.bench_build/`;
later runs start the JVM directly. Each run renders its inputs from
`--seed`, runs one JVM (`perfbench.Main`) in a fresh directory under
`.bench_build/runs/`, checks the program's outputs with DuckDB (no engine
code), deletes the run directory and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
(and writes the spans to `.bench_build/traces/`). Workloads, metrics and
what each layer metric should move are described in perfbench/README.md.
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout

import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("dag_daily", "ann_index")
STAGES = ("load_stg", "stg_to_dds", "ledger_update")
TABLES = ("stg_couriers", "stg_deliveries", "dds_dm_couriers", "dds_dm_timestamps",
          "dds_fct_deliveries", "dds_quarantine", "cdm_ledger", "state_wf")
QUERIES = ("sim_ann_beam_graph", "sim_graph_pq_topk", "sim_ann_index_incremental",
           "sim_ivf_index_incremental", "sim_pq_index_incremental")
INDEX_QUERIES = QUERIES[2:]  # the persisted-index lifecycles; the others are beam walks

# input sizes, as shares of the sf0.1 corpus in corpus/ (a run must stay
# well inside its time limit on 4 cores; README.md gives the measurements)
EVENT_SHARE = 0.3
PRELOAD_DAYS = 26
VECTORS = 1_000
WARM_VECTORS = 200
# set-ups per run; on ann_index one warm-up pass costs as much as a measured
# pass, so it is made once
SETUP_REPS = {"dag_daily": 2, "ann_index": 1}
MIN_FREE_BYTES = 2 << 30

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd: list, timeout: float, **kw) -> subprocess.CompletedProcess:
    """subprocess.run in a process group of its own; on a timeout or a
    signal the whole group is killed and reaped before the error goes on.
    """
    with subprocess.Popen(cmd, start_new_session=True, **kw) as p:
        try:
            out, _ = p.communicate(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
        return subprocess.CompletedProcess(cmd, p.returncode, out)


# ---- build ------------------------------------------------------------------

def source_stamp() -> str:
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main", "perfbench/build.sbt",
            "perfbench/project/build.properties", "perfbench/src"]
    tops += sorted(os.path.relpath(f, ROOT) for f in glob.glob(f"{ROOT}/project/*.sbt"))
    for top in tops:
        p = os.path.join(ROOT, top)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build() -> str:
    """Compile engine + harness once per source state; return the classpath."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"not a checkout of the engine: {need} is missing")
    # one cached classpath, valid for the source state it was built from
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            built_from, classpath = (f.read().split("\n", 1) + [""])[:2]
        if built_from == stamp:
            return classpath.strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    tmp = os.path.join(WORK, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    # offline against the local caches; temp files, native libraries and no
    # server socket of sbt's own, so the build writes inside the checkout
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
            *([f"-Dsbt.repository.config={repos}"] if os.path.exists(repos) else []),
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "-XX:-UsePerfData",
            "-Dsbt.server.autostart=false", "-Xmx2g"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), *opts]).strip()
    log("building engine + harness (sbt, offline)")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        p = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                       "export Runtime/fullClasspath"],
                      800, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True)
        out.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"build failed (see {WORK}/build.log)")
    with open(cp_file, "w") as f:
        f.write(f"{stamp}\n{lines[-1].strip()}")
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


# ---- inputs -----------------------------------------------------------------

def render(workload: str, seed: int, data: str) -> dict:
    if workload == "ann_index":
        return gen.embeddings(seed, data, {"corpus": VECTORS, "warm": WARM_VECTORS})
    return gen.render_month(seed, data, EVENT_SHARE, PRELOAD_DAYS)


def query_order(seed: int) -> list:
    """The five queries in a seeded order."""
    return sorted(QUERIES, key=lambda q: hashlib.sha256(f"{seed}:{q}".encode()).hexdigest())


# ---- metrics ----------------------------------------------------------------

def med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def div(a: float, b: float) -> float:
    """a / b, or 0 when a failed run left nothing to divide by."""
    return a / b if b else 0.0


def end_to_end(workload: str, raw: dict, manifest: dict) -> dict:
    ops, rounds = raw["ops"], raw["rounds"]
    m = {"setup_s": (med(raw["setup_s"]), "s"),
         "round_s": (med(r["wall_s"] for r in rounds), "s")}
    if workload == "ann_index":
        src = manifest["corpus"]
        per_pass = {}
        for o in ops:
            per_pass[o["round"]] = per_pass.get(o["round"], 0) + o["mt_unique_bytes"]
        idx = [o for o in ops if o["name"] in INDEX_QUERIES]
        m["rows_per_s"] = (div(VECTORS * len(idx), sum(o["wall_s"] for o in idx)), "1/s")
        m["write_amp"] = (div(sum(o["mt_bytes"] for o in ops), src * len(rounds)), "ratio")
        m["storage_amp"] = (med(b / src for b in per_pass.values()), "ratio")
    else:
        src = manifest
        # the backfill's throughput: the set-ups after the first (cold JVM) one
        warm = raw["backfill"][1:] or raw["backfill"]
        m["rows_per_s"] = (div(src["pre"]["rows"], med(b["stage_s"] for b in warm)), "1/s")
        m["write_amp"] = (div(sum(sum(t["bytes"] for t in o["written"].values()) for o in ops),
                              sum(src[o["name"]]["source_bytes"] for o in ops)), "ratio")
        m["storage_amp"] = (med(div(r["warehouse_bytes"],
                                    sum(src[d]["source_bytes"] for d in ["pre", *r["days"]]))
                                for r in rounds), "ratio")
    return m


ALL = ("wall_s", "jobs", "tasks", "executor_s", "driver_s", "exec_busy", "shuffle_mb",
       "input_mb", "output_mb")


def per_layer(raw: dict) -> dict:
    """Per-layer metrics from the spans of a traced run (its one traced round,
    and its set-ups after the first), and the tracing overhead: the traced
    round's wall against the mean of the untraced rounds on either side."""
    cores = raw["cores"]
    spans = [s for s in raw["spans"] if s["ok"]]
    out = {}

    def layer(prefix, fields=ALL, skip=0):
        """Medians over the spans named `prefix`, leaving out the first `skip`."""
        ss = [s for s in spans if s["name"] == prefix][skip:]
        wall = [(s["end_ns"] - s["start_ns"]) / 1e9 for s in ss]
        v = {"wall_s": (med(wall), "s"),
             "jobs": (med(s["jobs"] for s in ss), "count"),
             "tasks": (med(s["tasks"] for s in ss), "count"),
             "executor_s": (med(s["executor_ms"] / 1e3 for s in ss), "s"),
             "driver_s": (med(s["driver_s"] for s in ss), "s"),
             "exec_busy": (med(s["executor_ms"] / 1e3 / (w * cores)
                               for s, w in zip(ss, wall) if w > 0), "ratio"),
             "shuffle_mb": (med(s["shuffle_write_bytes"] / 1e6 for s in ss), "MB"),
             "input_mb": (med(s["input_bytes"] / 1e6 for s in ss), "MB"),
             "output_mb": (med(s["output_bytes"] / 1e6 for s in ss), "MB")}
        out.update((f"{prefix}.{f}", v[f]) for f in fields)

    for st in STAGES:
        layer(st)
    day_self = []
    for s in spans:
        if s["name"] == "day":
            kids = sum(k["end_ns"] - k["start_ns"] for k in spans if k["parent"] == s["id"])
            day_self.append((s["end_ns"] - s["start_ns"] - kids) / 1e9)
    out["day.self_s"] = (med(day_self), "s")

    ops = [o for o in raw["ops"] if "rows_after" in o]  # traced DAG days

    def delta(o, t):
        return o["rows_after"][t] - o["rows_before"][t]

    rows_in = [delta(o, "dds/fct_deliveries") + delta(o, "dds/quarantine") for o in ops]
    out["load_stg.rows_landed"] = (med(delta(o, "stg/deliveries") for o in ops), "count")
    out["stg_to_dds.rows_in"] = (med(rows_in), "count")
    out["stg_to_dds.rows_quarantined"] = (med(delta(o, "dds/quarantine") for o in ops), "count")
    out["stg_to_dds.load_yield"] = (med(delta(o, "dds/fct_deliveries") / n
                                        for o, n in zip(ops, rows_in) if n), "ratio")
    out["ledger_update.groups_written"] = (
        med(o["useful"].get("cdm_ledger", {}).get("rows_written", 0) for o in ops), "count")
    nothing = {"bytes": 0, "data_files": 0}
    for t in TABLES:
        w = [o["written"].get(t, nothing) for o in ops]
        out[f"mergetable.{t}.mb_written"] = (med(x["bytes"] / 1e6 for x in w), "MB")
        out[f"mergetable.{t}.files_written"] = (med(x["data_files"] for x in w), "count")
        u = [o["useful"][t] for o in ops if t in o["useful"]]
        n = sum(x["rows_written"] for x in u)
        out[f"mergetable.{t}.useful_ratio"] = (
            div(sum(x["rows_new_or_changed"] for x in u), n), "ratio")
    for st in STAGES:
        layer(f"backfill.{st}", [f for f in ALL if f != "tasks"], skip=1)
    for t in TABLES:
        out[f"backfill.mergetable.{t}.mb_written"] = (
            med(b["written"].get(t, nothing)["bytes"] / 1e6 for b in raw["backfill"][1:]), "MB")
    for q in QUERIES:
        layer(f"query.{q}", ("wall_s", "jobs", "executor_s", "driver_s", "shuffle_mb",
                             "output_mb"))
        qops = [o for o in raw["ops"] if o.get("name") == q and o["traced"]]
        out[f"query.{q}.mt_mb_written"] = (med(o["mt_bytes"] / 1e6 for o in qops), "MB")
    traced = [r["wall_s"] for r in raw["rounds"] if r["traced"]]
    plain = [r["wall_s"] for r in raw["rounds"] if not r["traced"]]
    out["trace.overhead_pct"] = ((div(med(traced), statistics.mean(plain)) - 1) * 100
                                 if traced and plain else 0.0, "%")
    return out


# ---- main -------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a TERM from whoever runs us unwinds like an error: the child process
    # group is killed and the run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build()
    free = shutil.disk_usage(ROOT).free
    if free < MIN_FREE_BYTES:
        raise SystemExit(f"only {free >> 20} MiB free; a run needs {MIN_FREE_BYTES >> 20} MiB")

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        for d in ("data", "tmp", "spark-local"):
            os.makedirs(os.path.join(run_dir, d))
        t0 = time.time()
        manifest = render(a.workload, a.seed, os.path.join(run_dir, "data"))
        render_s = time.time() - t0

        raw_path = os.path.join(run_dir, "raw.json")
        trace_out = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.jsonl")
        opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", *opens,
               f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", classpath, "perfbench.Main",
               "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--run-dir", run_dir,
               "--data-dir", os.path.join(run_dir, "data"), "--out", raw_path,
               "--setup-reps", str(SETUP_REPS[a.workload]),
               "--preload-days", str(PRELOAD_DAYS),
               "--queries", ",".join(query_order(a.seed))]
        if a.trace:
            cmd += ["--trace-out", trace_out]
        t1 = time.time()
        with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
            p = run_group(cmd, 165, stdout=jlog, stderr=subprocess.STDOUT)
        jvm_s = time.time() - t1
        if p.returncode != 0 or not os.path.exists(raw_path):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"harness JVM exited with {p.returncode}")
        with open(raw_path) as f:
            raw = json.load(f)
        raw["setup_s"] = [s + render_s for s in raw["setup_s"]]

        for x in raw["failures"]:
            print(f"FAILED {x['op']}: {x['class']}: {x['message']}")
        problems = []
        if not raw["failures"]:
            if a.workload == "ann_index":
                problems = checks.ann(os.path.join(run_dir, "data", "corpus"),
                                      raw["query_out"], raw["oracles"])
            else:
                problems = checks.dag(raw["check_warehouse"], os.path.join(run_dir, "data"),
                                      raw["days_loaded"])
        for msg in problems:
            print(f"CHECK {msg}")
        log(f"render {render_s:.1f} s, jvm {jvm_s:.1f} s, check {time.time() - t1 - jvm_s:.1f} s")

        metrics = per_layer(raw) if a.trace else end_to_end(a.workload, raw, manifest)
        correct = not problems and not raw["failures"]
        samples = {"setup_s": len(raw["setup_s"]), "round_s": len(raw["rounds"])}
        for k, (v, unit) in metrics.items():
            print(f"metric {k} {v:.6g} {unit}" + (f" (n={samples[k]})" if k in samples else ""))
        failed = len(raw["failures"])
        print(json.dumps({
            "correct": correct,
            "attempted": max(1, raw.get("attempted", 0)),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
