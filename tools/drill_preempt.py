#!/usr/bin/env python3
"""Round-13 preemption drill (r12 verdict item 5): kill a RELIABLE-mode
g01 PageRank mid-run at sf10, restart, and prove the engine resumes
from the last completed round's checkpoint files instead of
recomputing from round 0.

Orchestrates graft.PreemptDrill over three JVMs:
  cold   - uninterrupted 3-round run (localCheckpoint), reference
           answer + cold wall
  run    - reliable mode; SIGKILLed right after "[pagerank] round 2
           complete: <file>" appears on stderr (mid-round-3, the
           verdict's "round >= 2" requirement)
  resume - fresh JVM reloads <file>, runs the 1 remaining round IN
           RELIABLE MODE (round 14: the supervisor hook must fire on
           the resumed run too), writes parquet

Pass criteria (all checked here, result printed as one JSON line for
SCALE.md):
  - resume parquet == cold parquet bit-for-bit (duckdb compare)
  - the resume JVM logged exactly its remaining rounds as RELIABLE
    checkpoints ("recovery, not recomputation" + the second-kill
    supervisor path exercised)
  - walls: recovered (resume) vs cold recorded

Usage: python3 tools/drill_preempt.py [sfdir] [workdir] [engine]
  engine: g01 (default, fixed 3-round PageRank) or cc (round-14
  verdict item 7: ConnectedComponents over d06's LSH-pair graph,
  runs to convergence; resume reloads the announced round state and
  must reach the same fixpoint).
"""
import json
import os
import re
import signal
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))
from ladder import JDK17_ADD_OPENS, host_cpus, host_heap  # noqa: E402

def round_re(tag):
    return re.compile(r"\[%s\] round (\d+) complete: (\S+)" % tag)


def jvm_cmd(*drill_args):
    return (["java"] + JDK17_ADD_OPENS +
            ["-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", f"-Xmx{host_heap()}",
             "-cp", f"{REPO}/target/scala-2.13/classes:/opt/spark/jars/*",
             "graft.PreemptDrill"] + list(drill_args))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf10"
    work = Path(sys.argv[2] if len(sys.argv) > 2 else "/tmp/drill_preempt")
    engine = sys.argv[3] if len(sys.argv) > 3 else "g01"
    assert engine in ("g01", "cc"), engine
    tag = {"g01": "pagerank", "cc": "cc"}[engine]
    ROUND_RE = round_re(tag)
    prefix = "" if engine == "g01" else "cc_"
    subprocess.run(["rm", "-rf", str(work)])
    work.mkdir(parents=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=host_cpus())

    # ── cold reference ────────────────────────────────────────────────
    t0 = time.time()
    cold_log = (work / "cold.log").open("w")
    subprocess.run(jvm_cmd(prefix + "cold", sf_dir,
                           str(work / "cold.parquet")),
                   check=True, env=env, stdout=cold_log, stderr=cold_log)
    cold_wall = time.time() - t0

    # ── reliable-mode run, killed after round 2 ──────────────────────
    ckpt = work / "ckpt"
    run_log_path = work / "run.log"
    with run_log_path.open("w") as run_log:
        proc = subprocess.Popen(
            jvm_cmd(prefix + "run", sf_dir, str(ckpt),
                    str(work / "never.parquet")),
            env=env, stdout=run_log, stderr=subprocess.STDOUT)
        state_file, rounds_done = None, 0
        deadline = time.time() + 1800
        while time.time() < deadline and proc.poll() is None:
            time.sleep(0.5)
            for m in ROUND_RE.finditer(run_log_path.read_text()):
                # FIRST match with round >= 2, not the last: if rounds
                # 2 and 3 both landed within one 0.5 s poll, taking the
                # last would record rounds_done=3 and the resume JVM's
                # require(remaining > 0) would crash the drill
                if int(m.group(1)) >= 2:
                    state_file, rounds_done = m.group(2), int(m.group(1))
                    break
            if rounds_done >= 2:
                # mid-round-3: the kill the checkpoint mode exists for
                proc.send_signal(signal.SIGKILL)
                break
        if proc.poll() is None:
            # deadline expired with the JVM still alive (never reached
            # round 2): kill it so proc.wait() can't block forever —
            # the drill then FAILS on the assert below instead of hanging
            proc.send_signal(signal.SIGKILL)
        proc.wait()
    assert rounds_done >= 2, "run JVM never reached round 2 - drill void"
    assert not (work / "never.parquet").exists(), \
        "run JVM finished before the kill landed - drill void"

    # ── resume from files alone ──────────────────────────────────────
    t1 = time.time()
    resume_log_path = work / "resume.log"
    # both engines take the completed-round count: g01 uses it to size
    # the remaining budget AND as the announcement offset; cc (runs to
    # convergence) uses it for announcement numbering only — round 16,
    # the r15 advice: announced numbers are globally monotonic across
    # kills, so a supervisor reads progress off the announcement itself
    resume_args = [state_file, str(rounds_done)]
    with resume_log_path.open("w") as resume_log:
        subprocess.run(
            jvm_cmd(prefix + "resume", sf_dir, *resume_args,
                    str(work / "ckpt_resume"),
                    str(work / "resume.parquet")),
            check=True, env=env, stdout=resume_log, stderr=subprocess.STDOUT)
    resume_wall = time.time() - t1
    resumed_round_nums = [
        int(m.group(1))
        for m in ROUND_RE.finditer(resume_log_path.read_text())]
    resumed_rounds = len(resumed_round_nums)
    # the resume leg runs RELIABLE mode too (r13 verdict item 6): its
    # per-round checkpoint-file log is what a supervisor would watch
    # after a SECOND kill, so it must announce every remaining round.
    # g01 runs a fixed 3-round budget (exact count); cc runs to
    # convergence (at least one round, however converged the state).
    # Round 16 (the r15 advice): announced numbers must also CONTINUE
    # the global numbering — the resume leg passes rounds_done as the
    # engines' roundOffset, so the first resumed announcement reads
    # rounds_done+1, not 1.
    if engine == "g01":
        assert resumed_round_nums == list(range(rounds_done + 1, 4)), (
            f"resume JVM announced rounds {resumed_round_nums}, expected "
            f"{list(range(rounds_done + 1, 4))} - the supervisor hook is "
            f"silent or locally renumbered on resume")
    else:
        assert resumed_rounds >= 1, (
            "cc resume JVM announced no reliable rounds - the supervisor "
            "hook is silent on resume")
        assert resumed_round_nums[0] == rounds_done + 1, (
            f"cc resume announced round {resumed_round_nums[0]} first, "
            f"expected {rounds_done + 1} (globally monotonic numbering)")

    # ── adjudicate ───────────────────────────────────────────────────
    import duckdb
    n_diff = duckdb.sql(f"""
        SELECT count(*) FROM (
          SELECT * FROM '{work}/cold.parquet/*.parquet'
          EXCEPT ALL SELECT * FROM '{work}/resume.parquet/*.parquet')
        """).fetchone()[0]
    n_diff += duckdb.sql(f"""
        SELECT count(*) FROM (
          SELECT * FROM '{work}/resume.parquet/*.parquet'
          EXCEPT ALL SELECT * FROM '{work}/cold.parquet/*.parquet')
        """).fetchone()[0]
    result = {
        "drill": f"preempt_{engine}", "dir": sf_dir,
        "rounds_done_at_kill": rounds_done,
        "state_file": state_file,
        "cold_wall_sec": round(cold_wall, 1),
        "resume_wall_sec": round(resume_wall, 1),
        "resume_reliable_rounds_logged": resumed_rounds,
        "rows_diff_vs_cold": n_diff,
        "pass": n_diff == 0,
    }
    print(json.dumps(result))
    (work / "result.json").write_text(json.dumps(result, indent=1))
    sys.exit(0 if n_diff == 0 else 1)


if __name__ == "__main__":
    main()
