#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program and the benchmark
harness from source with the Scala compiler that ships in Spark's jars
(cached under .bench_build/ by source digest, with a class-data-sharing
archive for JVM start-up), generates the workload's
inputs from the seed, runs the harness JVM on local[nproc] with a heap
sized from MemTotal, checks the outputs, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer ones (--trace 1).
The line before it is the environment record of the run.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["mr-wordcount", "query-mix", "graph-fixpoint", "stream-linedir"]
END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"),
              ("rows_per_s", "1/s")]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
JVM_TIMEOUT_S = 150


def per_layer_names():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"]) for m in spec["per_layer"]]


def spark_jars():
    """Spark's jars (they include the Scala compiler): SPARK_HOME, else the
    first spark-submit on PATH whose installation has them."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(d).resolve().parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if (Path(d) / "spark-submit").exists()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if any(jars.glob("scala-compiler-*.jar")):
            return f"{jars}/*"
    sys.exit("no Spark installation with a Scala compiler (set SPARK_HOME)")


def sources(root):
    files = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    files += sorted((HERE / "src").glob("*.scala"))
    resources = sorted(p for p in (root / "src" / "main" / "resources").rglob("*")
                       if p.is_file())
    return files, resources


def build(root, build_dir, jars):
    """Compile src/main/scala plus the harness into one jar, then dump a
    class-data-sharing archive from a short training JVM so every run's
    JVM starts from it. Reuses a build whose source digest matches."""
    files, resources = sources(root)
    if not any("graft" in str(p) for p in files):
        sys.exit("program sources not found (src/main/scala)")
    h = hashlib.sha256()
    for p in files + resources:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    digest = h.hexdigest()[:16]
    out = build_dir / f"build-{digest}"
    if (out / "app.jsa").is_file():
        return out, digest
    shutil.rmtree(out, ignore_errors=True)
    tmp = build_dir / f"tmp-build-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    classes = tmp / "classes"
    classes.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files))
    subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", jars,
                    "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
                    "-classpath", jars, f"@{argfile}"], check=True,
                   stdout=sys.stderr)
    res_root = root / "src" / "main" / "resources"
    for p in resources:
        dst = classes / p.relative_to(res_root)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    with zipfile.ZipFile(tmp / "program.jar", "w") as z:
        for p in sorted(classes.rglob("*")):
            if p.is_file():
                z.write(p, p.relative_to(classes))
    shutil.rmtree(classes)
    os.replace(tmp, out)
    # the archive records the class path, so it is dumped from the final
    # location; a build without its archive is not reused
    train = out / "train"
    train.mkdir()
    try:
        subprocess.run(jvm_cmd(out, jars, 2, train, archive="dump") +
                       ["train", str(train)], check=True, cwd=train,
                       stdout=sys.stderr, stderr=subprocess.STDOUT)
    except BaseException:
        shutil.rmtree(out, ignore_errors=True)
        raise
    shutil.rmtree(train)
    return out, digest


def jvm_cmd(build, jars, heap_gib, tmp_dir, archive="use"):
    """The harness JVM: Spark's module opens, the heap, the class-data
    archive (dumped by the training run, used by every other)."""
    jsa = build / "app.jsa"
    cds = (f"-XX:ArchiveClassesAtExit={jsa}" if archive == "dump"
           else f"-XX:SharedArchiveFile={jsa}")
    return (["java", cds] +
            [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
            [f"-Xmx{heap_gib}g", f"-Djava.io.tmpdir={tmp_dir}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", f"{build / 'program.jar'}:{jars}", "perfbench.PerfBench"])


def host():
    cpus = len(os.sched_getaffinity(0))
    gib = 2
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                gib = min(8, max(2, int(line.split()[1]) // 2097152))
    return cpus, gib


def tail(values, beyond=10):
    """The highest nearest-rank percentile with at least `beyond` samples
    above it (the largest sample below the top `beyond`)."""
    s = sorted(values)
    i = max(0, len(s) - 1 - beyond)
    return s[i], round(100.0 * (i + 1) / len(s), 1)


def generate(workload, seed, root):
    rng = np.random.default_rng(seed)
    if workload == "mr-wordcount":
        os.makedirs(root)
        facts = gen.gen_mr(rng, root)
        for name, body in check.MR_EXES.items():
            p = Path(root) / name
            p.write_text(body)
            p.chmod(0o755)
        return facts
    if workload == "query-mix":
        gen.gen_tables(rng, root)
        gen.gen_graph(rng, os.path.join(root, "graph"))
        return None
    if workload == "graph-fixpoint":
        gen.gen_graph(rng, root)
    else:
        gen.gen_stream(rng, root)
    return None


def harness_input(workload, in_dir):
    """The stream replays `events/`; its warm-up reads the sibling `warmup/`."""
    return in_dir / "events" if workload == "stream-linedir" else in_dir


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = Path.cwd()
    build_dir = root / ".bench_build"
    build_dir.mkdir(exist_ok=True)
    jars = spark_jars()
    build_out, src_digest = build(root, build_dir, jars)

    work = build_dir / "work" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        t0 = time.time()
        facts = generate(a.workload, a.seed, str(work / "in"))
        gen_s = time.time() - t0
        in_digest = gen.digest(str(work / "in"))
        cpus, heap = host()
        cmd = (jvm_cmd(build_out, jars, heap, work / "tmp") +
               [a.workload, str(harness_input(a.workload, work / "in")),
                str(work / "out"), str(a.seconds),
                str(a.trace), str(cpus), str(a.seed)])
        t0 = time.time()
        with open(work / "jvm.log", "w") as log:
            proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S, cwd=work)
        jvm_s = time.time() - t0
        result_file = work / "out" / "result.json"
        if proc.returncode != 0 or not result_file.exists():
            sys.stderr.write((work / "jvm.log").read_text()[-4000:])
            sys.exit(f"harness JVM failed with code {proc.returncode}")
        r = json.loads(result_file.read_text())

        failures = list(r["failed"])
        failures += check.run(a.workload, work / "in", work / "out" / "check",
                              facts, cpus)
        if a.trace:
            failures += check.attribution(r["layer"])
            if a.workload == "query-mix":
                failures += check.check_graph(work / "in" / "graph",
                                              work / "out" / "check", None, cpus)

        ops = r["ops"]
        tail_v, tail_p = tail(ops)
        e2e = {
            "setup_s": r["setup_s"],
            "pass_s": statistics.median(r["warm_passes"]),
            "op_p50_s": statistics.median(ops),
            "rows_per_s": r["rows"] / r["warm_wall_s"],
        }
        # each failure string names at least one failed operation
        failed = min(len(failures), r["attempted"])
        env = dict(r["env"], workload=a.workload, seed=a.seed,
                   input_digest=in_digest, source_digest=src_digest,
                   gen_s=round(gen_s, 3), jvm_s=round(jvm_s, 3),
                   session_builds_s=r["setup_builds_s"], warmup_s=r["warmup_s"],
                   pairs=len(r["cold_passes"]),
                   cold_pass_s=statistics.median(r["cold_passes"]),
                   ops=len(ops), op_tail_s=tail_v, op_tail_pct=tail_p, peak_rss_mb=round(r["peak_rss_mb"], 1),
                   pass_heap_mb=[round(x, 1) for x in r["heap_mb"]],
                   op_medians={k: round(v, 3) for k, v in r["op_medians"].items()},
                   failed_ratio=failed / max(1, r["attempted"]),
                   failures=failures[:5])
        if a.trace:
            # keep the spans past the work dir's removal
            traces = build_dir / "traces"
            traces.mkdir(exist_ok=True)
            shutil.copyfile(work / "out" / "spans.jsonl",
                            traces / f"{a.workload}-{a.seed}.jsonl")
            layer = r["layer"]
            metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                       for n, u in per_layer_names()}
        else:
            metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
        print(json.dumps({"env": env}))
        print(json.dumps({"correct": not failures, "attempted": r["attempted"],
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
