#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine together with the harness (again whenever their sources
change), derives the workload's inputs from the seed, times session set-up
in fresh JVMs, runs the harness JVM (set-up, a cold pass, warm passes for
the given seconds), checks the outputs with DuckDB, and
prints a summary line and, last, one JSON object with the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1). README.md has
the workloads, the metrics and the layer map.
"""
import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import arith

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DEADLINE_S = 170
# fresh JVMs whose set-up times make up setup_s, the harness JVM included
SETUP_JVMS = 3

# name -> the calls of one pass, in order; which of them are served from
# the engine's session index memos; and how many warm passes a run makes
# (a fixed count, so that every run's median sits at the same point of the
# JIT warm-up curve; 15-25 s of passes on a 4-vCPU host).
WORKLOADS = {
    "emnist-train": {
        "calls": ["emnist_pipeline", "q35_pca_variance"],
        "memo": [],
        "warm_passes": 3,
    },
    "corpus-curation": {
        "calls": ["q25_neardup_minhash", "q187_bm25_topk", "q107_suffix_dedup",
                  "q71_auto_band_join"],
        "memo": ["q25_neardup_minhash", "q187_bm25_topk", "q107_suffix_dedup"],
        "warm_passes": 15,
    },
}

# Quality bands of the direct pipeline's models (GBDT and Gaussian NB) on
# held-out rows. With 15% label noise the Bayes ceiling is ~0.85; over the
# seeds tried while sizing, the GBDT scored accuracy 0.76-0.88 and macro-F1
# 0.69-0.86.
ACC_BAND = (0.65, 0.95)
F1_BAND = (0.60, 0.95)

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s", "live_heap_mb": "MB"}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """SHA-256 over the paths and contents of every file the build reads."""
    files = [*(ROOT / "src" / "main").rglob("*"), *(HERE / "src").rglob("*"),
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    h = hashlib.sha256()
    for f in sorted(f for f in files if f.is_file()):
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def build():
    """Compile the engine and the harness, unless the build already holds
    the sources as they are now, then archive the classes a short harness
    run loads for class-data sharing, which boots every later harness JVM
    ~5 s sooner. The archive is named after the sources' digest, so a
    rebuilt jar always gets a new one. Returns (classpath, archive)."""
    cp_file = HERE / "target" / "classpath.txt"
    stamp = HERE / "target" / "sources.sha256"
    digest = source_digest()
    if not (cp_file.exists() and stamp.exists() and stamp.read_text() == digest):
        log("building engine + harness with sbt")
        stamp.unlink(missing_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline")
        spark_submit = shutil.which("spark-submit")
        if "SPARK_HOME" not in env and spark_submit:
            env["SPARK_HOME"] = str(Path(spark_submit).resolve().parent.parent)
        subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                        "perfbenchClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr,
                       check=True, timeout=840)
        stamp.write_text(digest)
    classpath = cp_file.read_text().strip()
    archive = ROOT / ".perfbench" / f"classes-{digest[:16]}.jsa"
    if not archive.exists():
        for old in archive.parent.glob("classes-*.jsa"):
            old.unlink()
        log("archiving classes for class-data sharing")
        with work_dir("cds") as work:
            derive_inputs(0, work / "data")
            run_harness(classpath, None, work, ["q1_pricing"], 1, 0, 0, False, False,
                        time.monotonic() + 300,
                        [f"-XX:ArchiveClassesAtExit={archive}", "-Xlog:cds=off",
                         "-Xlog:cds+dynamic=off"])
    return classpath, archive


@contextlib.contextmanager
def work_dir(name):
    """A scratch directory for one harness JVM, removed afterwards."""
    work = ROOT / ".perfbench" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)


def derive_inputs(seed, dest):
    """Every fixture table with its rows permuted and cut into four parquet
    files, rows and cut points both drawn from the seed. The file count is
    fixed: a table read from one file is scanned by one task, which made
    the pass times of seeds that drew one file a second mode."""
    import numpy as np
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    for src in sorted((HERE / "fixture").glob("*.parquet")):
        table = pq.read_table(src)
        n = table.num_rows
        table = table.take(rng.permutation(n))
        files = min(4, n)
        cuts = sorted(int(c) for c in rng.choice(np.arange(1, n), files - 1, replace=False))
        out = dest / src.name
        out.mkdir(parents=True)
        for i, (a, b) in enumerate(zip([0] + cuts, cuts + [n])):
            pq.write_table(table.slice(a, b - a), out / f"part-{i:05d}.parquet")


def heap_size():
    """Half the machine's memory, clamped to 2-8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_harness(classpath, archive, work, calls, warm_passes, seed, seconds, trace,
                setup_only, deadline, jvm_opts=()):
    """Run a harness JVM on the inputs in work/data, writing its result to
    work/result.json; returns its exit code. Java's and Spark's scratch
    space both live in `work`."""
    if archive is not None:
        jvm_opts = [f"-XX:SharedArchiveFile={archive}", *jvm_opts]
    cmd = ["java", *jvm_opts,
           *(f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS),
           "--add-modules=jdk.incubator.vector", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
           f"-Xmx{heap_size()}", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", classpath, "perfbench.Harness",
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--data", str(work / "data"), "--work", str(work),
           "--out", str(work / "result.json"), "--calls", ",".join(calls),
           "--warm-passes", str(warm_passes),
           "--cores", str(len(os.sched_getaffinity(0))),
           "--setup-only", str(int(setup_only)),
           "--launched-ms", repr(time.time() * 1e3)]
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        log("harness JVM over its deadline; killed")
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()


def dir_mb(path):
    if not path.exists():
        return 0.0
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) / 1048576.0


def end_to_end(res, setups):
    passes = res["passes"]
    warm = [p["wall_s"] for p in passes if p["kind"] == "warm" and not p["traced"]]
    return {
        "setup_s": arith.median(setups),
        "cold_pass_s": passes[0]["wall_s"],
        "warm_pass_s": arith.median(warm),
        "live_heap_mb": res["live_heap_mb"],
    }, {"setup_s": len(setups), "cold_pass_s": 1, "warm_pass_s": len(warm)}


def per_layer(res, workload, leftover_mb):
    """Per-layer metrics of a traced run: the median over its traced warm
    passes of each per-pass total, unless stated otherwise."""
    spans, cores = res["spans"], res["cores"]
    by_id = {s["id"]: s for s in spans}
    chain = arith.ancestors(spans)
    at = arith.Attributor(spans)

    def under(span_id, pred):
        """Nearest span at or above `span_id` whose name satisfies pred."""
        for i in chain.get(span_id, []):
            if pred(by_id[i]["name"]):
                return i
        return None

    # Spark jobs, stages and plannings, each charged to the innermost span
    # around its start; those outside any traced pass fall to no pass
    job_span = {j["id"]: at(j["start"]) for j in res["jobs"]}
    stage_span = [(s, at(s["submitted"])) for s in res["stages"]]
    plan_span = [(pl, at(pl["start"])) for pl in res["plannings"]]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for j in res["jobs"]:
        if job_span[j["id"]] is not None and j["end"] >= j["start"]:
            children.setdefault(job_span[j["id"]], []).append((j["start"], j["end"]))

    def self_s(span):
        return arith.self_ms(span, children.get(span["id"], [])) / 1e3

    def pass_of(span_id):
        return under(span_id, lambda n: n.startswith("pass:"))

    def call_of(span_id):
        return under(span_id, lambda n: n.startswith("call:"))

    pass_spans = [s for s in spans if s["name"].startswith("pass:")]
    traced = [p for p in res["passes"] if p["traced"]]
    # traced passes and their spans appear in the same order
    assert len(traced) == len(pass_spans)
    cold_span = pass_spans[0]
    warm = [(p, s) for p, s in zip(traced, pass_spans) if p["kind"] == "warm"]
    memo = set(WORKLOADS[workload]["memo"])

    def pass_totals(p, ps):
        pid = ps["id"]
        inside = [s for s in spans if pass_of(s["id"]) == pid]
        named = lambda n: [s for s in inside if s["name"] == n]
        dur = lambda ss: sum(s["end"] - s["start"] for s in ss) / 1e3
        jobs = [j for j in res["jobs"] if pass_of(job_span[j["id"]]) == pid]
        stages = [s for s, sp in stage_span if pass_of(sp) == pid]
        plans = [(pl, sp) for pl, sp in plan_span if pass_of(sp) == pid]
        mb = lambda k: sum(s[k] for s in stages) / 1048576.0
        run_s = sum(s["run_ms"] for s in stages) / 1e3
        memo_calls = {s["id"] for s in inside if s["name"].startswith("call:")
                      and s["name"][5:] in memo}
        gbt = {s["id"] for s in named("ml.gbt_fit")}
        gbt_stages = [s for s, sp in stage_span if under(sp, lambda n: n == "ml.gbt_fit") in gbt]
        calls = [s for s in inside if s["name"].startswith("call:")]
        return {
            "entry.build_s": dur(named("build")),
            "entry.drain_s": dur(named("drain")),
            "entry.build_self_s": sum(self_s(s) for s in named("build")),
            "entry.drain_self_s": sum(self_s(s) for s in named("drain")),
            "harness.self_s": self_s(ps),
            "catalyst.plan_s": sum(sum(pl["phases_ms"].values()) for pl, _ in plans) / 1e3,
            "plans.band_rewrites": len({call_of(sp) for pl, sp in plans
                                        if pl["band_rewrite"]}),
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["tasks"] for s in stages),
            "spark.task_run_s": run_s,
            "spark.task_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
            "spark.task_gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
            "spark.task_overhead_s": sum(s["duration_ms"] - s["run_ms"] for s in stages) / 1e3,
            "spark.busy_frac": arith.busy_frac(run_s, p["wall_s"], cores),
            "spark.shuffle_write_mb": mb("shuffle_write_b"),
            "spark.shuffle_read_mb": mb("shuffle_read_b"),
            "spark.spill_mb": mb("spill_b"),
            "spark.output_mb": mb("output_b"),
            "spark.input_mb": mb("input_b"),
            "memo.s": dur([s for s in calls if s["id"] in memo_calls]),
            "memo.jobs": sum(1 for j in jobs if call_of(job_span[j["id"]]) in memo_calls),
            "hygiene.swept_rdds": sum(c["swept"] for c in p["calls"]),
            "hygiene.sweep_s": sum(c["sweep_s"] for c in p["calls"]),
            "ml.fixture_s": dur(named("ml.fixture")),
            "ml.features_fit_s": dur(named("ml.features_fit")),
            "ml.nb_fit_s": dur(named("ml.nb_fit")),
            "ml.gbt_fit_s": dur(named("ml.gbt_fit")),
            "ml.eval_s": dur(named("ml.eval")),
            "ml.gbt_jobs": sum(1 for j in jobs if under(job_span[j["id"]],
                                                         lambda n: n == "ml.gbt_fit") in gbt),
            "ml.gbt_tasks": sum(s["tasks"] for s in gbt_stages),
            "jvm.gc_s": p["gc_s"],
            "jvm.gc_count": p["gc_count"],
            "jvm.heap_peak_mb": p["heap_peak_mb"],
            "host.steal_frac": p["steal_frac"],
        }

    cold = pass_totals(traced[0], cold_span)
    warm_totals = [pass_totals(p, s) for p, s in warm]
    out = {k: arith.median([t[k] for t in warm_totals]) for k in warm_totals[0]}
    out["memo.cold_s"] = cold["memo.s"]
    out["memo.warm_s"] = out.pop("memo.s")
    out["memo.build_jobs"] = cold["memo.jobs"] - out.pop("memo.jobs")
    out["memo.pinned_mb"] = res["pinned_mb"]
    out["index.leftover_mb"] = leftover_mb
    ml = [c["ml"] for p in res["passes"] for c in p["calls"] if c["ml"]]
    out["ml.holdout_acc"] = ml[-1]["holdout_acc"] if ml else 0.0
    out["ml.holdout_f1"] = ml[-1]["holdout_f1"] if ml else 0.0
    for name, rate in sorted(res["kernels"].items()):
        out[f"kernel.{name}_rows_per_s"] = rate
    untraced = [p["wall_s"] for p in res["passes"] if p["kind"] == "warm" and not p["traced"]]
    traced_warm = [p["wall_s"] for p, _ in warm]
    out["trace.overhead_frac"] = arith.median(traced_warm) / arith.median(untraced) - 1
    return out


def unit(metric):
    if metric.endswith("rows_per_s"):
        return "rows/s"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_frac"):
        return "ratio"
    if metric.startswith("ml.holdout"):
        return "score"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        log(f"engine sources not found under {ROOT}; nothing to benchmark")
        sys.exit(2)
    from check import check_outputs  # reads the engine's parity rules

    classpath, archive = build()
    deadline = max(deadline, time.monotonic() + 150)  # a first run also builds

    with work_dir("run") as work:
        t0 = time.monotonic()
        derive_inputs(a.seed, work / "data")
        t1 = time.monotonic()
        wl = WORKLOADS[a.workload]
        setups = []
        for i in range(SETUP_JVMS):
            setup_only = i < SETUP_JVMS - 1
            code = run_harness(classpath, archive, work, wl["calls"], wl["warm_passes"],
                               a.seed, a.seconds, a.trace, setup_only, deadline)
            if code != 0:
                log(f"harness JVM exited with {code}; run failed")
                sys.exit(1)
            res = json.loads((work / "result.json").read_text())
            setups.append(res["setup_s"])
        t2 = time.monotonic()
        leftover_mb = dir_mb(work / "tmp") + dir_mb(work / "spark-local")
        checks = check_outputs(work / "data", work / "check", res["oracle"], work / "duckdb")
        checks.update(res["check_errors"])
        log(f"inputs {t1 - t0:.1f} s, harness JVMs {t2 - t1:.1f} s "
            f"(passes {res['measured_s']:.1f} s), DuckDB check {time.monotonic() - t2:.1f} s")
        if a.trace:
            traces = ROOT / ".perfbench" / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            (traces / f"{a.workload}-seed{a.seed}.json").write_text(json.dumps(
                {k: res[k] for k in ("spans", "jobs", "stages", "plannings")}))

    calls = [c for p in res["passes"] for c in p["calls"]]
    for name in WORKLOADS[a.workload]["calls"]:
        times = [c["wall_s"] for c in calls if c["name"] == name]
        log(f"call {name}: cold {times[0]:.3f} s, warm "
            + " ".join(f"{t:.3f}" for t in times[1:]))
    failures = [f"{c['name']}: {c['error']}" for c in calls if c["error"]]
    failures += [f"{n} (DuckDB check): {e}" for n, e in sorted(checks.items()) if e]
    ml = [c["ml"] for c in calls if c["ml"]]
    for i, m in enumerate(ml):
        if not all(ACC_BAND[0] <= m[k] <= ACC_BAND[1] for k in ("holdout_acc", "nb_acc")) or \
                not all(F1_BAND[0] <= m[k] <= F1_BAND[1] for k in ("holdout_f1", "nb_f1")):
            failures.append(f"emnist_pipeline pass {i}: scores {m} outside their bands")
    # Gaussian NB is fitted on the same features in every pass and must
    # score the same each time. The GBDT's scores are not compared: its fit
    # does not repeat (README.md).
    if len({(m["nb_acc"], m["nb_f1"]) for m in ml}) > 1:
        failures.append("emnist_pipeline: NB scores differ between passes: "
                        + " ".join(f"{m['nb_acc']}/{m['nb_f1']}" for m in ml))
    attempted = len(calls) + len(checks) + len(ml) + (len(ml) > 1)
    for f in failures:
        log(f"FAILED {f}")

    e2e, samples = end_to_end(res, setups)
    summary = [f"{k}={v:.4f} {END_TO_END[k]}" + (f" (n={samples[k]})" if k in samples else "")
               for k, v in e2e.items()]
    summary.append(f"failed_frac={len(failures) / attempted:.4f} ratio "
                   f"({len(failures)}/{attempted})")
    if ml:
        summary.append(f"holdout_f1={ml[-1]['holdout_f1']:.4f} score")
        summary.append(f"holdout_acc={ml[-1]['holdout_acc']:.4f} score")
    print(f"{a.workload} seed={a.seed}: " + "  ".join(summary))
    print("passes: " + " ".join(f"{p['kind']}{'*' if p['traced'] else ''}={p['wall_s']:.3f}"
                                for p in res["passes"])
          + "  setup: " + " ".join(f"{s:.3f}" for s in setups))
    if a.trace:
        metrics = {k: {"value": v, "unit": unit(k)}
                   for k, v in sorted(per_layer(res, a.workload, leftover_mb).items())}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
