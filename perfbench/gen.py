"""Seeded input generators for the four benchmark workloads.

Every generator takes a numpy Generator built from the run's seed and a
target directory and writes only plain files there (text line-dirs or
parquet). `gen_mr` also returns the expected word counts, which only the
output checks see. The same seed gives byte-identical files, so
`digest(dir)` is a stable input identity.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def digest(root):
    """sha256 over every file's relative path and bytes, in sorted order."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


# ---- mr-wordcount ------------------------------------------------------

MR_JOBS = 6           # jobs per pass (the FIFO queue)
MR_FILES = 8          # files per job input dir (dealt over M mappers)
MR_WORDS = 300_000    # words per job
MR_VOCAB = 20_000


def gen_mr(rng, root):
    """One line-dir of Zipf-distributed words per job. Returns the
    expected word counts per job as {job: {word: count}}."""
    expected = {}
    vocab = [f"w{r}" for r in range(MR_VOCAB + 1)]
    for j in range(MR_JOBS):
        d = os.path.join(root, f"job{j}", "input")
        os.makedirs(d)
        ranks = rng.zipf(1.3, MR_WORDS)
        ranks = ranks[ranks <= MR_VOCAB]
        # 4..16 words a line: a newline replaces the space after a word
        ends = np.zeros(len(ranks), dtype=bool)
        stops = np.cumsum(rng.integers(4, 17, len(ranks) // 4 + 1)) - 1
        ends[stops[stops < len(ranks)]] = True
        ends[-1] = True
        for f, (lo, hi) in enumerate(_file_bounds(ends, MR_FILES)):
            with open(os.path.join(d, f"in-{f:03d}.txt"), "w") as out:
                out.write("".join(vocab[r] + ("\n" if e else " ")
                                  for r, e in zip(ranks[lo:hi].tolist(),
                                                  ends[lo:hi].tolist())))
        c = np.bincount(ranks)
        expected[j] = {vocab[r]: int(c[r]) for r in np.nonzero(c)[0]}
    return expected


def _file_bounds(ends, n):
    """Split word positions into `n` runs of whole lines."""
    line_ends = np.nonzero(ends)[0] + 1
    cuts = [0] + [int(line_ends[min(len(line_ends) - 1, (k * len(line_ends)) // n)])
                  for k in range(1, n)] + [len(ends)]
    return list(zip(cuts[:-1], cuts[1:]))


# ---- query-mix ---------------------------------------------------------

QM_ROWS = dict(region=5, nation=25, customer=1500, supplier=100, part=2000,
               orders=15000, lineitem=60000, events=10000, documents=500,
               embeddings=500)
DOC_VOCAB = ("a agg batch big column customer data dup fast filter group hash "
             "join key line merge order part query row scan slow small sort "
             "spark stream table the value vector window").split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days + 1, n).astype("timedelta64[D]")


def gen_tables(rng, root):
    """The star schema plus events/documents/embeddings, at the row
    counts of QM_ROWS, with the column types and value domains of the
    repo's sf fixtures."""
    os.makedirs(root)
    n = QM_ROWS
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{root}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{root}/nation.parquet")

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    c = n["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, c),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], c)}),
        f"{root}/customer.parquet")
    s = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, s)}),
        f"{root}/supplier.parquet")
    p = n["part"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": np.char.add(np.char.add(rng.choice(PART_ADJ, p), " "),
                              rng.choice(PART_NOUN, p)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 2)}),
        f"{root}/part.parquet")
    o = n["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": money(1000, 500000, o),
        "o_orderdate": _days(rng, "1995-01-01", 2404, o),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], o)}),
        f"{root}/orders.parquet")
    li = n["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": money(900, 105000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _days(rng, "1995-01-02", 2498, li)}),
        f"{root}/lineitem.parquet")
    e = n["events"]
    ts = np.sort(np.datetime64("2024-01-01", "us")
                 + rng.integers(0, 30 * 86400 * 10**6, e).astype("timedelta64[us]"))
    _write(pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(100, e // 66), e), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], e),
        "value": np.round(rng.exponential(50, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]}),
        f"{root}/events.parquet")
    dn = n["documents"]
    texts = []
    for i in range(dn):
        if i > 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[rng.integers(0, i)].split()
            for k in rng.integers(0, len(words), 2):
                words[k] = DOC_VOCAB[rng.integers(0, len(DOC_VOCAB))]
        else:
            words = rng.choice(DOC_VOCAB, rng.integers(10, 100)).tolist()
        texts.append(" ".join(words))
    _write(pa.table({
        "doc_id": pa.array(np.arange(dn), pa.int64()),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], dn),
        "source": np.char.add("src", rng.integers(0, 20, dn).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{root}/documents.parquet")
    en = n["embeddings"]
    labels = rng.integers(0, 10, en)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (en, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(en), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{root}/embeddings.parquet")


# ---- graph-fixpoint ----------------------------------------------------

G_GIANT = 4_000       # nodes in the giant component
G_ATTACH = 3          # edges each new giant-component node brings
G_SMALL = 150         # small components (paths of 2..4 nodes)


def gen_graph(rng, root):
    """Undirected weighted graph: a degree-skewed giant component
    (preferential attachment, so degrees are heavy-tailed and the
    diameter small) and a tail of small path components. Written as one
    (u, v, w) parquet with u < v, each undirected edge once."""
    os.makedirs(root)
    n = G_GIANT
    perm = rng.permutation(n)
    # preferential attachment: each new node links to G_ATTACH earlier
    # endpoints drawn from the list of all endpoints so far
    ends = list(range(G_ATTACH + 1))
    pairs = [(a, b) for a in range(G_ATTACH + 1) for b in range(a)]
    for i in range(G_ATTACH + 1, n):
        for t in rng.choice(len(ends), G_ATTACH):
            pairs.append((i, ends[t]))
            ends.append(ends[t])
        ends.extend([i] * G_ATTACH)
    edges = perm[np.array(pairs)]
    nxt = n
    small = []
    for _ in range(G_SMALL):
        k = int(rng.integers(2, 5))
        ids = np.arange(nxt, nxt + k)
        small.append(np.stack([ids[:-1], ids[1:]], axis=1))
        nxt += k
    edges = np.concatenate([edges] + small)
    edges = edges[edges[:, 0] != edges[:, 1]]
    edges = np.unique(np.sort(edges, axis=1), axis=0)
    w = rng.integers(1, 10, len(edges))
    _write(pa.table({"u": pa.array(edges[:, 0], pa.int64()),
                     "v": pa.array(edges[:, 1], pa.int64()),
                     "w": pa.array(w, pa.int64())}), f"{root}/edges.parquet")
    # label-propagation seeds: ten giant-component nodes, labels 0..9
    seeds = rng.choice(n, 10, replace=False)
    _write(pa.table({"node": pa.array(perm[seeds], pa.int64()),
                     "label": pa.array(np.arange(10), pa.int64())}),
           f"{root}/seeds.parquet")
    # SSSP/BFS source: a node of the first clique, a hub of the giant
    # component
    _write(pa.table({"node": pa.array([perm[0]], pa.int64())}),
           f"{root}/sources.parquet")


# ---- stream-linedir ----------------------------------------------------

ST_BATCHES = 12            # micro-batches per replay
ST_FILES_PER_TRIGGER = 2
ST_LINES_PER_FILE = 1500
ST_WARMUP_FILES = 6        # the warm-up replay's input: the first files
ST_TYPES = ["click", "error", "purchase", "signup", "view"]


def gen_stream(rng, root):
    """Event lines `ts_micros,user,type,value` in time order across
    sorted file names; within a file timestamps jitter by < 5 minutes,
    well inside the 10-minute watermark, so no row is dropped as late.
    The replayed files go to `events/`; copies of the first few go to
    `warmup/`."""
    os.makedirs(os.path.join(root, "events"))
    os.makedirs(os.path.join(root, "warmup"))
    start = 1_704_067_200 * 10**6   # 2024-01-01T00:00:00Z
    span = 20 * 60 * 10**6          # each file covers 20 minutes
    for f in range(ST_BATCHES * ST_FILES_PER_TRIGGER):
        base = start + f * span
        ts = base + np.sort(rng.integers(0, span, ST_LINES_PER_FILE))
        ts = ts + rng.integers(-5 * 60 * 10**6, 0, ST_LINES_PER_FILE) * (f > 0)
        user = rng.integers(0, 500, ST_LINES_PER_FILE)
        typ = rng.integers(0, len(ST_TYPES), ST_LINES_PER_FILE)
        val = np.round(rng.exponential(50, ST_LINES_PER_FILE), 2)
        with open(os.path.join(root, "events", f"ev-{f:04d}.txt"), "w") as out:
            out.write("".join(f"{t},{u},{ST_TYPES[k]},{v:.2f}\n"
                              for t, u, k, v in zip(ts, user, typ, val)))
        if f < ST_WARMUP_FILES:
            shutil.copy(os.path.join(root, "events", f"ev-{f:04d}.txt"),
                        os.path.join(root, "warmup"))
