#!/usr/bin/env python3
"""Same-minute interleaved N-tree A/B for one or more queries (round 16).

A two-tree A/B generalized to N named (tag, tree) arms and a
comma-separated query list: one fresh JVM per (tree, rep) running every
listed query, rep-major interleave, ladder methodology
(this host's cores unless --cpus overrides, host_heap(), in-row
contention probe). Motivation: verdict item 2's s09 question is THREE-cornered —
r14 window formulation vs r15 interpreted-HOF map-side vs r16 codegen
kernel — and two pairwise A/Bs an hour apart cannot rank three arms
under one weather.

The current tree's first rep is oracle-checked via tools/check.py
(DuckDB replay) -> adjudication "hash" on pass; old trees are the
committed round boundaries, hash-gated by their rounds' CORRECTNESS
artifacts.

Usage: ab_tree3.py <query>[,<query>...] <tag>=<tree> [<tag>=<tree> ...] \
         [--reps N] [--sfdir D] [--artifact F] [--cpus N]
e.g.:  ab_tree3.py s09_int_kmeans r14=/tmp/ab_r14 r15=/tmp/ab_r15 \
         r16=/root/repo --reps 3 --sfdir /root/testdata/sf0.1 \
         --artifact GROWTH_r16.json
       ab_tree3.py q01_pricing_summary,e03_sessionize old=/tmp/old new=. \
         --reps 4
Each arm's record is keyed <query prefix>_<tag>, one per listed query.
"""
import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))
from ladder import JDK17_ADD_OPENS, host_cpus, host_heap, settle_load  # noqa: E402


def run_once(tree, vdir, sf_dir, queries, cpus):
    subprocess.run(["rm", "-rf", vdir])
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    cmd = (["java"] + JDK17_ADD_OPENS +
           ["-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Xmx{host_heap()}",
            "-cp", f"{tree}/target/scala-2.13/classes:/opt/spark/jars/*",
            "graft.Verify", sf_dir, vdir, ",".join(queries)])
    subprocess.run(cmd, cwd=REPO, check=True, env=env,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    t = json.loads(Path(vdir, "timings.json").read_text())
    c = json.loads(Path(vdir, "calibration.json").read_text())
    return [t[q] for q in queries], round(c["par_over_scalar"], 3)


def oracle_check(vdir, sf_dir, queries):
    """{query: passed} from one tools/check.py run over the listed queries."""
    rep = Path(vdir) / "report.json"
    subprocess.run(
        ["python3", str(REPO / "tools/check.py"), vdir, sf_dir,
         "--json", str(rep), "--only", ",".join(queries)])
    res = json.loads(rep.read_text()) if rep.exists() else {}
    return {q: bool(res.get(q, {}).get("pass")) for q in queries}


def main():
    argv = list(sys.argv[1:])

    def opt(name, default):
        if name in argv:
            i = argv.index(name)
            v = argv[i + 1]
            del argv[i:i + 2]
            return v
        return default

    reps = int(opt("--reps", "3"))
    sf_dir = opt("--sfdir", "/root/testdata/sf0.1")
    artifact = opt("--artifact", "GROWTH_r16.json")
    cpus = opt("--cpus", host_cpus())
    queries = argv[0].split(",")
    arms = [a.split("=", 1) for a in argv[1:]]
    vprefix = "_".join(q.split("_")[0] for q in queries)

    out_path = REPO / artifact
    data = (json.loads(out_path.read_text()) if out_path.exists()
            else {"round": 16, "generated_by": "tools/ab_tree3.py",
                  "arms": {}})
    data.setdefault("arms", {})
    walls = {(t, q): [] for t, _ in arms for q in queries}
    probes = {t: [] for t, _ in arms}
    adjud = {}
    for rep in range(reps):
        for tag, tree in arms:
            vdir = f"/tmp/ab3_{vprefix}_{tag}"
            settle_load(2.0, 600)
            ws, p = run_once(tree, vdir, sf_dir, queries, cpus)
            probes[tag].append(p)
            for query, w in zip(queries, ws):
                walls[(tag, query)].append(w)
                print(f"[ab3] {query} {tag} rep{rep}: {w:.2f}s "
                      f"par/scalar {p}", flush=True)
            if rep == 0 and Path(tree).resolve() == REPO:
                for query, ok in oracle_check(vdir, sf_dir, queries).items():
                    adjud[(tag, query)] = "hash" if ok else "rows_only"
                    if not ok:
                        print(f"[ab3] WARNING: {query} {tag} oracle check "
                              f"FAILED — rows_only", file=sys.stderr)
    for tag, tree in arms:
        for query in queries:
            ws = sorted(walls[(tag, query)])
            data["arms"][f"{query.split('_')[0]}_{tag}"] = {
                "query": query, "tree": str(tree), "cpus": int(cpus),
                "dir": sf_dir, "driver_mem": host_heap(),
                "walls_sec": walls[(tag, query)], "min_sec": ws[0],
                "median_sec": ws[len(ws) // 2],
                "par_over_scalar_all": probes[tag],
                "adjudication": adjud.get(
                    (tag, query), f"hash ({tag} round boundary gate)"),
            }
    out_path.write_text(json.dumps(data, indent=1, sort_keys=True))
    print(f"[ab3] wrote {artifact}")


if __name__ == "__main__":
    main()
