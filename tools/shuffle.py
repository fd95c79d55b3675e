#!/usr/bin/env python3
"""Shuffle-growth artifact → SHUFFLE_r{N}.json.

Runs graft.ShuffleAudit (per-query task-metric totals: shuffle
write/read bytes, input bytes, spill, peak task memory) at sf0.01 and
sf0.1 — a 10x row-count step — and records the per-query growth ratio.
A linear operator moves shuffle bytes ~10x; a hidden quadratic moves
them ~100x. Wall-clock ladders (LADDER_r{N}) can hide a quadratic
behind idle cores; shuffled bytes cannot, which makes this the most
direct committed evidence for the "equi-join-shaped candidate
generation everywhere" 100 TB claim.

Queries whose sf0.01-rung byte count is tiny (< 1 MB shuffled) get
ratio null — a 10x on kilobytes is noise, not posture; the absolute
numbers stay in the artifact for the reader.

Usage: python3 tools/shuffle.py <round_number> [out.json]
"""
import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))
from ladder import host_cpus  # noqa: E402

MIN_BASE_BYTES = 1 << 20  # ratios on < 1 MB bases are noise


def run_audit(sf_dir, out_path):
    subprocess.run(
        ["sbt", "-batch", f"runMain graft.ShuffleAudit {sf_dir} {out_path}"],
        cwd=REPO, check=True, env=dict(os.environ, SPARK_GRAFT_CPUS=host_cpus()))
    return json.loads(Path(out_path).read_text())


def main():
    rnd = sys.argv[1]
    out = sys.argv[2] if len(sys.argv) > 2 else f"SHUFFLE_r{rnd}.json"
    lo = run_audit("/root/testdata/sf0.01", "/tmp/shuffle_sf0.01.json")
    hi = run_audit("/root/testdata/sf0.1", "/tmp/shuffle_sf0.1.json")
    queries = {}
    worst = (None, 0.0)
    for q, m_lo in lo["queries"].items():
        m_hi = hi["queries"].get(q)
        if m_hi is None:
            continue
        base = m_lo["shuffle_write_bytes"]
        ratio = (round(m_hi["shuffle_write_bytes"] / base, 2)
                 if base >= MIN_BASE_BYTES else None)
        queries[q] = {
            "sf0.01": m_lo, "sf0.1": m_hi,
            "shuffle_write_growth_10x_rows": ratio,
        }
        if ratio is not None and ratio > worst[1]:
            worst = (q, ratio)
    artifact = {
        "round": int(rnd), "generated_by": "tools/shuffle.py",
        "rows_growth": 10.0,
        "worst_shuffle_growth": {"query": worst[0], "ratio": worst[1]},
        "queries": queries,
    }
    Path(REPO / out).write_text(json.dumps(artifact, indent=1,
                                           sort_keys=True))
    print(f"[shuffle] wrote {out}; worst growth: {worst[0]} {worst[1]}x "
          f"for 10x rows")


if __name__ == "__main__":
    main()
