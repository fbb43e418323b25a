#!/usr/bin/env python3
"""graft benchmark: runs one workload and prints its metrics as the last stdout line.

    python3 perfbench/run.py --workload uniform_heavy --seed 1 --seconds 3 --trace 0

Run from the root of a checkout. The first run builds the harness and the engine from
source with sbt (perfbench/build.sbt); later runs reuse the build while the sources are
unchanged. A run is two JVMs: one generates the corpus unless it is cached, the other
measures, so its set-up is cold. Runtime data (build stamp, corpora, Spark local dirs,
traces, logs) goes under .perfbench/ in the checkout. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer metrics and writes the spans to .perfbench/trace/. See perfbench/WORKLOADS.md.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchmath as bm  # noqa: E402

WORKLOADS = ("uniform_heavy", "cliff_payload", "stream_replay")
WORK = ".perfbench"
KEEP_CORPORA = 6
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    pats = ["build.sbt", "project/*", "src/main/**/*", "perfbench/build.sbt",
            "perfbench/project/*", "perfbench/scala/**/*"]
    return sorted(f for p in pats for f in glob.glob(os.path.join(root, p), recursive=True)
                  if os.path.isfile(f))


def build(root, deadline):
    """Compiles with sbt when the sources changed; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    cp_file = os.path.join(root, WORK, "build", f"classpath-{h.hexdigest()[:16]}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip(), False
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(root, WORK, "build", "sbt.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "-J-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp_dir(root)}", "benchClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
            stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"build timed out; see {log}")
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed; see {log}")
    shutil.copy(os.path.join(root, "perfbench", "target", "classpath.txt"), cp_file)
    return open(cp_file).read().strip(), True


def tmp_dir(root):
    """Temporary files stay inside the checkout too."""
    d = os.path.join(root, WORK, "tmp")
    os.makedirs(d, exist_ok=True)
    return d


def cpu_row():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def run_jvm(root, classpath, mode, args, cores, deadline):
    """Runs graftbench.Main in `mode` (prepare: generate the corpus unless cached; run:
    measure) in a JVM of its own and returns its stdout."""
    work = os.path.join(root, WORK)
    for d in ("logs", "trace", "corpus", "ckpt"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    log = os.path.join(work, "logs", f"{args.workload}-s{args.seed}-t{args.trace}-{mode}.log")
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:+UseTransparentHugePages",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp_dir(root)}"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-cp", classpath, "graftbench.Main", mode,
            args.workload, str(args.seed), str(args.seconds), str(args.trace), work, str(cores)]
    out_file = log[:-len(".log")] + ".out"
    # stdin stays open and unused: the JVM exits when it reads end of input, so it
    # cannot outlive this process.
    with open(log, "w") as lf, open(out_file, "w") as of:
        proc = subprocess.Popen(cmd, cwd=root, stdin=subprocess.PIPE, stdout=of, stderr=lf)
        try:
            proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{args.workload} {mode} timed out; see {log}")
        finally:
            proc.stdin.close()
    shutil.rmtree(os.path.join(work, "ckpt"), ignore_errors=True)
    # the JVM halts without its shutdown hooks, which would delete these
    for d in ("spark-local", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"{args.workload} {mode} exited with {proc.returncode}; see {log}")
    return open(out_file).read()


def measure(root, classpath, args, cores, deadline):
    """The corpus is generated in a JVM of its own, so that the measuring JVM's set-up is
    cold: no Spark code has run in it before."""
    run_jvm(root, classpath, "prepare", args, cores, deadline)
    out = run_jvm(root, classpath, "run", args, cores, deadline)
    lines = [l for l in out.splitlines() if l.startswith("GRAFTBENCH ")]
    if not lines:
        fail(f"{args.workload} printed no result")
    return json.loads(lines[-1][len("GRAFTBENCH "):])


def prune_corpora(root):
    dirs = sorted(glob.glob(os.path.join(root, WORK, "corpus", "*")), key=os.path.getmtime)
    for d in dirs[:-KEEP_CORPORA]:
        shutil.rmtree(d, ignore_errors=True)


def checks(raw):
    """(attempted, failed, notes): every rep's match count against the independent path,
    and once per run the order-independent digest of the match rows and, where the
    workload asks for it, the replication that proves its replicating path ran."""
    exp = raw["expected"]
    attempted, failed, notes = 0, 0, []
    if "drains" in raw:
        for i, d in enumerate(raw["drains"]):
            attempted += 1
            n = sum(b["matches"] for b in d["batches"])
            dg = sum(b["digest"] for b in d["batches"])
            late = sum(b["late_dropped"] for b in d["batches"])
            if (n, dg, late) != (exp["count"], exp["digest"], 0):
                failed += 1
                notes.append(f"drain {i}: {n} matches, digest {dg}, {late} late rows; "
                             f"batch evaluation gives {exp['count']}, digest {exp['digest']}")
    else:
        for r in raw["reps"]:
            attempted += 1
            if r["matches"] != exp["count"]:
                failed += 1
                notes.append(f"{r['kind']} rep {r['rep']}: {r['matches']} matches, "
                             f"expected {exp['count']}")
        pipe = raw["pipeline"]
        attempted += 1
        if (pipe["count"], pipe["digest"]) != (exp["count"], exp["digest"]):
            failed += 1
            notes.append(f"pipeline gives {pipe['count']} matches, digest {pipe['digest']}; "
                         f"independent {exp}")
        if raw["min_replication"] > 0:
            attempted += 1
            rep = replication(raw, pipe["listener"], {pipe["group"]})
            if rep <= raw["min_replication"]:
                failed += 1
                notes.append(f"replication {rep:.4f}, expected above {raw['min_replication']}")
    return attempted, failed, notes


def replication(raw, listener, groups):
    """Shuffle records per relevant row in the jobs of `groups`: 1 for a plan that
    shuffles each relevant row once, more where rows are replicated into panes."""
    return bm.stage_summary(listener, groups)["shuffle.records"] / max(1, raw["relevant_rows"])


def rep_seconds(raw, kind):
    return [r["s"] for r in raw.get("reps", []) if r["kind"] == kind]


def nonempty(batches):
    return [b for b in batches if b["input_rows"] > 0]


def end_to_end(raw):
    if "drains" in raw:
        wall = bm.median(d["s"] for d in raw["drains"])
        lat = [b["trigger_ms"] / 1e3 for d in raw["drains"] for b in nonempty(d["batches"])]
    else:
        lat = rep_seconds(raw, "timed")
        wall = bm.median(lat)
    return {
        "throughput_tps": raw["turns"] / wall,
        "batch_latency_p50_s": bm.median(lat),
        "setup_s": raw["setup_s"],
    }


STREAM_ZERO = ["stream.add_batch_s", "stream.overhead_s", "stream.batches",
               "stream.late_dropped", "stream.batch_latency_p90_s", "state.update_s",
               "state.commit_s", "state.removal_s", "state.rows_peak", "state.rows_updated",
               "state.memory_peak_bytes", "state.encode_us_per_visit",
               "state.decode_us_per_visit", "state.snapshot_bytes_mean"]


def per_layer(raw):
    spans = raw["spans"]
    engine = next(s for s in spans if s["name"] == "engine")
    workers = [s for s in spans if s["parent"] == engine["id"]]
    m = {
        "io.scan_s": bm.median(raw["scan_s"]),
        "compile.ms": bm.median(raw["compile_ms"]),
        # wall time with at least one engine thread busy
        "engine.self_s": (engine["end_ns"] - engine["start_ns"]
                          - bm.self_time(engine, spans)) / 1e9,
        "engine.ns_per_event": (sum(s["end_ns"] - s["start_ns"] for s in workers)
                                / max(1, raw["engine"]["events"])),
        "engine.matches": raw["engine"]["matches"],
    }
    if "drains" in raw:
        traced = [d for d in raw["drains"] if d["traced"]]
        untraced = [d for d in raw["drains"] if not d["traced"]]
        first = traced[0]
        batches = first["batches"]
        pooled = [b["trigger_ms"] / 1e3 for d in raw["drains"] for b in nonempty(d["batches"])]
        codec = raw["codec"]
        m.update(bm.stage_summary(raw["listener"], {first["run_id"]}))
        m.update({
            "output.encode_s": 0.0, "rip.plan_s": 0.0, "scaling_eff_1_to_n": 0.0,
            "gc.s": first["gc_s"],
            "trace.overhead_frac": (bm.median(d["s"] for d in traced)
                                    / bm.median(d["s"] for d in untraced) - 1),
            "stream.add_batch_s": sum(b["add_batch_ms"] for b in batches) / 1e3,
            "stream.overhead_s": sum(b["trigger_ms"] - b["add_batch_ms"] for b in batches) / 1e3,
            "stream.batches": len(nonempty(batches)),
            "stream.late_dropped": sum(b["late_dropped"] for b in batches),
            "stream.batch_latency_p90_s": bm.percentile(pooled, 0.9),
            "state.update_s": sum(b["state_update_ms"] for b in batches) / 1e3,
            "state.commit_s": sum(b["state_commit_ms"] for b in batches) / 1e3,
            "state.removal_s": sum(b["state_removal_ms"] for b in batches) / 1e3,
            "state.rows_peak": max(b["state_rows"] for b in batches),
            "state.rows_updated": sum(b["state_rows_updated"] for b in batches),
            "state.memory_peak_bytes": max(b["state_memory_bytes"] for b in batches),
            "state.encode_us_per_visit": codec["encode_ns"] / 1e3 / max(1, codec["encodes"]),
            "state.decode_us_per_visit": codec["decode_ns"] / 1e3 / max(1, codec["decodes"]),
            "state.snapshot_bytes_mean": codec["bytes"] / max(1, codec["encodes"]),
        })
    else:
        traced = [r for r in raw["reps"] if r["kind"] == "traced"]
        per_rep = []
        for r in traced:
            groups = {f"graftbench-span-{s['id']}" for s in spans
                      if s["rep"] == r["rep"] and s["name"] == "action"}
            per_rep.append(bm.stage_summary(raw["listener"], groups))
        for k in per_rep[0]:
            m[k] = bm.median(p[k] for p in per_rep)
        untraced = bm.median(rep_seconds(raw, "untraced"))
        local1 = rep_seconds(raw, "local1")
        m.update({
            "output.encode_s": untraced - bm.median(raw["count_s"]),
            "rip.plan_s": bm.median((s["end_ns"] - s["start_ns"]) / 1e9 for s in spans
                                    if s["name"] == "evaluate" and s["rep"] >= 1),
            "gc.s": bm.median(r["gc_s"] for r in traced),
            "trace.overhead_frac": bm.median(r["s"] for r in traced) / untraced - 1,
            "scaling_eff_1_to_n": (bm.median(local1) / (raw["cores"] * untraced)
                                   if local1 else 0.0),
        })
        m.update({k: 0.0 for k in STREAM_ZERO})
    m["heap.peak_mb"] = raw["heap_peak_bytes"] / 2 ** 20
    m["rip.replication"] = m["shuffle.records"] / max(1, raw["relevant_rows"])
    m["reduce.non_engine_s"] = m["reduce.stage_s"] - m["engine.self_s"]
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {', '.join(WORKLOADS)}")
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft)")
    t0 = time.time()
    classpath, built = build(root, t0 + FIRST_RUN_LIMIT_S)
    deadline = t0 + (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S)
    cores = len(os.sched_getaffinity(0))
    stat0 = cpu_row()
    raw = measure(root, classpath, args, cores, deadline)
    steal = bm.steal_pct(stat0, cpu_row())
    prune_corpora(root)
    attempted, failed, notes = checks(raw)
    for n in notes:
        print(f"perfbench: FAILED {n}", file=sys.stderr)
    if args.trace:
        values = per_layer(raw)
        values["host.steal_pct"] = steal
        values["host.nproc"] = cores
        path = os.path.join(root, WORK, "trace", f"{args.workload}-s{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"spans": raw["spans"], "listener": raw["listener"],
                       "reps": raw.get("reps"), "drains": raw.get("drains")}, f)
    else:
        values = end_to_end(raw)
    # names, order and units come from BENCHMARK.json, so the two cannot drift apart
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({"host": {"nproc": cores, "steal_pct": round(steal, 2),
                               "turns": raw["turns"]}}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec},
    }))


if __name__ == "__main__":
    main()
