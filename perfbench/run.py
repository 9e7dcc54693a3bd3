#!/usr/bin/env python3
"""Benchmark of the Singer target, run from the repository root:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

It builds the program and the harness from source (sbt, offline) on first
use, generates the workload's inputs from the seed, runs the workload in
fresh JVMs, checks the outputs, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones.
See perfbench/README.md for the workloads and metrics.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

HEAP = "2g"

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "records_per_s": "rec/s",
    "op_p50_ms": "ms",
    "out_bytes_per_record": "B",
}

PER_LAYER = {
    "Sessions.session_s": "s", "Sessions.first_job_s": "s",
    "SchemaMapper.translate_ms": "ms",
    "cli_s": "s",
    "SingerPipeline.discover_s": "s", "SingerPipeline.discover_bytes": "B",
    "SingerPipeline.jobs": "count", "SingerPipeline.scan_amplification": "ratio",
    "SingerPipeline.write_s": "s", "SingerPipeline.driver_gap_s": "s",
    "SingerPipeline.task_cpu_us_per_record": "us",
    "SingerPipeline.yield": "ratio", "SingerPipeline.out_files": "count",
    "SingerPipeline.metrics_write_ms": "ms",
    "batch_p50_s": "s", "SingerStream.records_per_s": "rec/s",
    "SingerStream.batches": "count", "SingerStream.jobs_per_batch": "count",
    "SingerStream.tasks_per_job": "count", "SingerStream.add_batch_ms": "ms",
    "SingerStream.commit_ms": "ms", "SingerStream.batch_slope_ms": "ms",
    "maintain_s": "s", "search_p50_ms": "ms", "search_p90_ms": "ms",
    "Bm25Index.build_s": "s", "Bm25Index.append_s": "s", "Bm25Index.delete_s": "s",
    "Bm25Index.compact_s": "s", "Bm25Index.search_ms": "ms", "Bm25Index.jobs": "count",
    "BandIndex.build_s": "s", "BandIndex.append_s": "s", "BandIndex.delete_s": "s",
    "BandIndex.compact_s": "s", "BandIndex.decide_ms": "ms", "BandIndex.jobs": "count",
    "Similarity.ivf_build_s": "s", "Similarity.ivf_append_s": "s",
    "Similarity.ivf_delete_s": "s", "Similarity.ivf_compact_s": "s",
    "Similarity.ivf_retrain_s": "s", "Similarity.ivf_search_ms": "ms",
    "Similarity.ivf_jobs": "count",
    "SegmentStore.files": "count", "SegmentStore.bytes_per_live_doc": "B",
    "Dedup.pins_peak": "count", "Dedup.pins_leaked": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.task_cpu_s": "s",
    "spark.shuffle_bytes": "B", "spark.spill_bytes": "B",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "Sessions.self_s": "s", "SchemaMapper.self_s": "s", "SingerPipeline.self_s": "s",
    "SingerStream.self_s": "s", "Bm25Index.self_s": "s", "BandIndex.self_s": "s",
    "Similarity.self_s": "s",
    "trace.overhead_share": "ratio", "trace.spans": "count",
}

JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
               "java.net", "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


class BuildError(Exception):
    pass


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness", "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "harness", "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "harness", "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(set(files)):
        if not os.path.isfile(f):
            raise BuildError("missing %s: run from the root of the repository" % f)
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile the program and the harness once per source tree; returns the
    runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath-%s.txt" % stamp)
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=%s -Dsbt.offline=true -Xmx3g"
                   % os.path.expanduser("~/.sbt/repositories"))
    log("building program and harness (sbt)")
    t = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=os.path.join(HERE, "harness"), env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=850)
    with open(os.path.join(WORK, "build.log"), "w") as f:
        f.write(p.stdout)
    cps = [l for l in p.stdout.splitlines() if "perfbench" in l and ".jar" in l
           and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        raise BuildError("sbt failed (exit %d), see %s" % (p.returncode, f.name))
    log("built in %.0f s" % (time.time() - t))
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    return cps[-1].strip()


def java(cp, main, args, log_path, timeout=170):
    """Run one fresh JVM; returns (wall_s, stdout)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.local.dir=" + tmp, "-cp", cp, main] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=tmp)
    with open(log_path, "w") as err:
        t = time.perf_counter()
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                           env=env, cwd=ROOT, timeout=timeout)
        wall = time.perf_counter() - t
    if p.returncode != 0:
        raise RuntimeError("%s exited %d, see %s" % (main, p.returncode, log_path))
    return wall, p.stdout


def harness(cp, mode, run_dir, seconds, trace, extra):
    work = os.path.join(run_dir, mode)
    os.makedirs(work, exist_ok=True)
    _, out = java(cp, "perfbench.Main",
                  ["--mode", mode, "--work", work, "--seconds", str(seconds),
                   "--trace", str(trace)] + extra,
                  os.path.join(run_dir, mode + ".log"))
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if not lines:
        raise RuntimeError("harness printed no result, see %s.log" % mode)
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    res["work"] = work
    return res


def last_out(res, name):
    with open(os.path.join(res["work"], name)) as f:
        return f.read().strip()


def run_workload(cp, workload, seed, seconds, trace, run_dir):
    inputs = os.path.join(run_dir, "in")
    manifest = gen.generate(workload, seed, inputs)
    metrics, layers, failures = {}, {}, []
    attempted = failed = 0

    def checked(what, msgs):
        nonlocal failed
        failures.extend("%s: %s" % (what, m) for m in msgs)
        failed += bool(msgs)

    if workload == "index_lifecycle":
        res = harness(cp, "index", run_dir, seconds, trace,
                      ["--plan", os.path.join(inputs, "plan.json"),
                       "--documents", os.path.join(inputs, "documents.parquet"),
                       "--embeddings", os.path.join(inputs, "embeddings.parquet")])
    else:
        if trace:
            # one fresh `graft.SingerMain` process, spawn to exit
            out = os.path.join(run_dir, "cli")
            with open(os.path.join(run_dir, "config.json"), "w") as f:
                json.dump({"filepath": out}, f)
            attempted += 1
            try:
                wall, stdout = java(cp, "graft.SingerMain",
                                    ["--config", os.path.join(run_dir, "config.json"),
                                     "--input", os.path.join(inputs, "input.jsonl")],
                                    os.path.join(run_dir, "cli.log"))
                layers["cli_s"] = wall
                echo = stdout.strip().splitlines()[-1] if stdout.strip() else ""
                checked("cli", check.check_output(out, manifest)
                        + check.check_state(echo, manifest))
            except (RuntimeError, subprocess.TimeoutExpired) as e:
                checked("cli", [str(e)])
        extra = ["--input", os.path.join(inputs, "input.jsonl"),
                 "--record-lines", str(manifest["record_lines"])]
        if trace:
            schemas = os.path.join(run_dir, "schemas.jsonl")
            with open(schemas, "w") as f:
                f.writelines(gen.line(m) for m in manifest["schema_messages"])
            extra += ["--stream-input", os.path.join(inputs, "stream_in"), "--schemas", schemas]
        res = harness(cp, "singer", run_dir, seconds, trace, extra)
        attempted += 1
        with open(os.path.join(res["work"], "last_state.json")) as f:
            echo = f.read()
        checked("warm", check.check_output(last_out(res, "last_out.txt"), manifest)
                + check.check_state(echo, manifest))
        if trace:
            attempted += 1
            try:
                out = last_out(res, "last_stream_out.txt")
                with open(os.path.join(out, "state.json")) as f:
                    echo = f.read()
                checked("stream", check.check_output(out, manifest)
                        + check.check_state(echo, manifest))
            except OSError as e:
                checked("stream", [str(e)])

    attempted += res["attempted"]
    failed += res["failed"]
    failures += res["failures"]
    metrics.update({k: v for k, v in res["metrics"].items() if k in END_TO_END})
    layers.update(res["layers"])

    log("%s seed %d: %s" % (workload, seed, json.dumps(
        dict(metrics, reps=res["metrics"].get("reps"), walls=res["metrics"].get("rep_walls")),
        sort_keys=True)))
    return metrics, layers, attempted, failed, failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        cp = build()
    except (BuildError, OSError, subprocess.TimeoutExpired) as e:
        log("build failed: %s" % e)
        return 2

    runs = os.path.join(WORK, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    run_dir = os.path.join(runs, "%s-%d" % (a.workload, a.seed))
    os.makedirs(run_dir)
    try:
        metrics, layers, attempted, failed, failures = run_workload(
            cp, a.workload, a.seed, a.seconds, a.trace, run_dir)
    except (RuntimeError, subprocess.TimeoutExpired, OSError, ValueError, KeyError) as e:
        log("run failed: %s" % e)
        return 3
    for m in failures:
        log("FAILED " + m)
    if a.trace:
        log("traced end-to-end: %s" % json.dumps(metrics, sort_keys=True))
        values, units = layers, PER_LAYER
    else:
        values, units = metrics, END_TO_END
    missing = [k for k in END_TO_END if k not in metrics]
    reported = {k: float(values.get(k, 0.0)) for k in units}
    missing += [k for k, v in reported.items() if not math.isfinite(v)]
    if missing:
        log("metrics missing or not finite: %s" % missing)
        return 3
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in reported.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
