"""Output checks, run after the harness JVM exits (outside every timed
region). Each check returns a list of failure strings; an empty list
means the outputs are correct. The references here are independent of
the program: DuckDB for the queries, single-process Python for the
graph engines, the generator's own counts for word count, and a plain
group-by for the streaming windows."""
import collections
import hashlib
import heapq
import json
import math
import os
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

# The reference's golden executables (word count over `key\t1` lines).
MR_EXES = {
    "wc_map.sh": "#!/bin/sh\ntr ' ' '\\n' | grep -v '^$' | sed 's/$/\\t1/'\n",
    "wc_reduce.sh": "#!/bin/sh\nawk -F'\\t' '{ if ($1 != prev) { if (NR > 1) "
                    "print prev \"\\t\" sum;\n  prev = $1; sum = 0 } sum += $2 } "
                    "END { if (NR > 0) print prev \"\\t\" sum }'\n",
}


def run(workload, in_dir, check_dir, facts, cpus):
    return {"mr-wordcount": check_mr, "query-mix": check_queries,
            "graph-fixpoint": check_graph,
            "stream-linedir": check_stream}[workload](in_dir, check_dir, facts, cpus)


def attribution(layer):
    """Traced-run self-checks: no job or task attributed across two
    operations, and spans cover at least 90% of every operation."""
    out = []
    if layer.get("trace.cross_attributed", 0) != 0:
        out.append(f"cross-attributed events: {layer['trace.cross_attributed']}")
    if layer.get("trace.coverage_min", 0) < 0.9:
        out.append(f"span coverage {layer.get('trace.coverage_min')} < 0.9")
    return out


# ---- mr-wordcount ------------------------------------------------------

def check_mr(in_dir, check_dir, expected, r):
    out = []
    for j, want in expected.items():
        d = Path(check_dir) / "mr" / f"job{j}"
        parts = sorted(os.listdir(d)) if d.is_dir() else []
        if parts != [f"part-{i:05d}" for i in range(r)]:
            out.append(f"job{j}: part files {parts}")
            continue
        got = {}
        for i, name in enumerate(parts):
            lines = (d / name).read_bytes().splitlines()
            if lines != sorted(lines):
                out.append(f"job{j}/{name}: not sorted")
            for line in lines:
                key, cnt = line.split(b"\t")
                h = int(hashlib.md5(key).hexdigest(), 16) % r
                if h != i:
                    out.append(f"job{j}: key {key!r} in part {i}, md5 says {h}")
                    break
                got[key.decode()] = got.get(key.decode(), 0) + int(cnt)
        if got != want:
            out.append(f"job{j}: counts differ ({len(got)} vs {len(want)} words)")
    return out


# ---- query-mix ---------------------------------------------------------

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        return v if v is None or isinstance(v, (int, str)) else str(v)
    canon = [tuple(norm(r[i]) for i in order) for r in rows]
    canon.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return sorted(cols), canon


def check_queries(in_dir, check_dir, _facts, _cpus):
    oracles = json.loads((Path(check_dir) / "qm_oracles.json").read_text())
    con = duckdb.connect()
    out = []
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{in_dir}/{t}.parquet')")
    for name in sorted(os.listdir(Path(check_dir) / "qm")):
        sql = oracles.get(name)
        if sql is None:
            out.append(f"{name}: no oracle")
            continue
        got = con.execute(
            f"SELECT * FROM read_parquet('{check_dir}/qm/{name}/*.parquet')")
        got_cols = [d[0] for d in got.description]
        got = _canon(got.fetchall(), got_cols)
        want = con.execute(sql)
        want = _canon(want.fetchall(), [d[0] for d in want.description])
        if got != want:
            out.append(f"{name}: result differs from the DuckDB oracle "
                       f"({len(got[1])} vs {len(want[1])} rows)")
    return out


# ---- graph-fixpoint ----------------------------------------------------

def _read(path, *cols):
    t = pq.read_table(path).to_pandas()
    return t[list(cols)] if cols else t


def check_graph(in_dir, check_dir, facts, _cpus):
    e = _read(f"{in_dir}/edges.parquet")
    u, v, w = (e[c].to_numpy() for c in ("u", "v", "w"))
    seeds = _read(f"{in_dir}/seeds.parquet")
    src = int(_read(f"{in_dir}/sources.parquet")["node"][0])
    adj = collections.defaultdict(list)
    for a, b, c in zip(u.tolist(), v.tolist(), w.tolist()):
        adj[a].append((b, c))
        adj[b].append((a, c))
    want = {
        "pagerank": pagerank(adj, 3),
        "hits": hits(u, v, 2),
        "cc": components(adj),
        "kcore": kcore(adj, 3),
        "sssp": dijkstra(adj, src),
        "bfs": bfs(adj, src),
        "labelprop": labelprop(adj, dict(zip(seeds["node"], seeds["label"]))),
    }
    out = []
    for name, ref in want.items():
        got = _read(f"{check_dir}/graph/{name}")
        cols = list(got.columns)
        got = {int(r[0]): tuple(int(x) for x in r[1:]) for r in got.itertuples(index=False)}
        ref = {k: (x if isinstance(x, tuple) else (x,)) for k, x in ref.items()}
        if got != ref:
            diff = sum(1 for k in set(got) | set(ref) if got.get(k) != ref.get(k))
            out.append(f"{name} {cols}: {diff} of {len(ref)} nodes differ")
    return out


def pagerank(adj, iters):
    """Exact-integer damped PageRank (operators.PageRank's formula)."""
    r = {n: 1_000_000 for n in adj}
    for _ in range(iters):
        inflow = collections.defaultdict(int)
        for n, nbrs in adj.items():
            c = r[n] // len(nbrs)
            for m, _w in nbrs:
                inflow[m] += c
        r = {n: 150_000 + (85 * inflow[n]) // 100 for n in adj}
    return r


def hits(u, v, iters):
    """Exact-integer max-normalized HITS (operators.Hits's formula)."""
    nodes = set(u.tolist()) | set(v.tolist())
    h = {n: 1_000_000 for n in nodes}
    a = {}
    for _ in range(iters):
        s = collections.defaultdict(int)
        for x, y in zip(u.tolist(), v.tolist()):
            s[y] += h[x]
        m = max(s.values())
        a = {n: (1_000_000 * s.get(n, 0)) // m for n in nodes}
        s = collections.defaultdict(int)
        for x, y in zip(u.tolist(), v.tolist()):
            s[x] += a[y]
        m = max(s.values())
        h = {n: (1_000_000 * s.get(n, 0)) // m for n in nodes}
    return {n: (h[n], a[n]) for n in nodes}


def components(adj):
    """Union-find; each node labelled with its component's minimum id."""
    parent = {n: n for n in adj}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, nbrs in adj.items():
        for b, _w in nbrs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in adj}


def kcore(adj, k):
    """Peel nodes of degree < k; survivors with their in-core degree."""
    deg = {n: len(nbrs) for n, nbrs in adj.items()}
    alive = set(adj)
    stack = [n for n in adj if deg[n] < k]
    while stack:
        n = stack.pop()
        if n not in alive:
            continue
        alive.discard(n)
        for m, _w in adj[n]:
            if m in alive:
                deg[m] -= 1
                if deg[m] < k:
                    stack.append(m)
    return {n: sum(1 for m, _w in adj[n] if m in alive) for n in alive}


def dijkstra(adj, src):
    dist = {src: 0}
    pq_ = [(0, src)]
    while pq_:
        d, n = heapq.heappop(pq_)
        if d > dist[n]:
            continue
        for m, w in adj[n]:
            if d + w < dist.get(m, 1 << 62):
                dist[m] = d + w
                heapq.heappush(pq_, (d + w, m))
    return dist


def bfs(adj, src):
    hop = {src: 0}
    frontier = [src]
    while frontier:
        nxt = []
        for n in frontier:
            for m, _w in adj[n]:
                if m not in hop:
                    hop[m] = hop[n] + 1
                    nxt.append(m)
        frontier = nxt
    return hop


def labelprop(adj, seeds):
    """Clamped majority vote, ties to the smallest label, until no node
    is won (operators.LabelPropagation's semantics)."""
    labels = {int(k): int(x) for k, x in seeds.items()}
    while True:
        votes = collections.defaultdict(collections.Counter)
        for n, lab in labels.items():
            for m, _w in adj[n]:
                if m not in labels:
                    votes[m][lab] += 1
        if not votes:
            return labels
        for m, c in votes.items():
            best = max(c.values())
            labels[m] = min(l for l, x in c.items() if x == best)


# ---- stream-linedir ----------------------------------------------------

HOUR_US = 3600 * 10**6
WATERMARK_US = 10 * 60 * 10**6


def check_stream(in_dir, check_dir, _facts, _cpus):
    """Every emitted window equals the batch twin, and every window
    closed by the final watermark was emitted."""
    counts = collections.Counter()
    cents = collections.Counter()
    max_ts = 0
    for name in sorted(os.listdir(Path(in_dir) / "events")):
        for line in open(Path(in_dir) / "events" / name):
            ts, _user, typ, val = line.rstrip("\n").split(",")
            ts = int(ts)
            max_ts = max(max_ts, ts)
            key = (ts - ts % HOUR_US, typ)
            counts[key] += 1
            cents[key] += int(round(float(val) * 100))
    con = duckdb.connect()
    rows = con.execute(
        "SELECT epoch_us(wstart), event_type, n, value_cents FROM "
        f"read_parquet('{check_dir}/stream/*/*.parquet', hive_partitioning=1)"
    ).fetchall()
    out = []
    got = {}
    for ws, typ, n, c in rows:
        if (ws, typ) in got:
            out.append(f"window {ws} {typ} emitted twice")
        got[(ws, typ)] = (n, c)
    want = {k: (counts[k], cents[k]) for k in counts}
    for k, val in got.items():
        if want.get(k) != val:
            out.append(f"window {k}: {val} vs batch twin {want.get(k)}")
    closed = {k for k in want if k[0] + HOUR_US <= max_ts - WATERMARK_US}
    missing = closed - set(got)
    if missing:
        out.append(f"{len(missing)} closed windows not emitted")
    return out[:10]
