"""Seeded inputs and independently computed expected answers.

For each workload, `generate(workload, seed, indir)` writes the inputs the
JVM side reads (parquet tables, the op stream as TSV, `meta.txt`) and
`expected.json`, the answers computed here without graft: an in-memory KCV
model (unsigned byte order, [start, end) column slices with a limit,
deletions before additions with upsert) for the kv workloads, and planted
structure plus DuckDB, networkx and numpy for the graph and corpus ones.

`check(indir, records)` compares the JVM's per-call digests against
`expected.json` and returns (attempted, failed, wrong answers).

Digest of a row of 64-bit words (x1..xn): mix(x1 ^ mix(x2 ^ ... mix(xn ^ 0)))
with mix the splitmix64 finalizer; a result digest is (row count, sum of
row hashes mod 2^64). `Digest.scala` computes the same on the JVM side.
"""
import json
import math
import os

import duckdb
import networkx as nx
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

U64 = np.uint64
MASK = (1 << 64) - 1

# Per-workload sizes. A pass is one fixed cycle of calls.
# kcv: connector reads over a segment store, then one compaction cycle
# of a merge-on-read delta store
KCV_READ = dict(keys=30_000, max_cols=39, segments=32, slices=4,
                multislices=1, multi_keys=64, keyslices=1, zipf=1.2)
KCV_MUTATE = dict(keys=10_000, max_cols=39, batches=4, deletes=300, upserts=300,
                  adds=300, readds=30, passes=16)
GRAPH = dict(cores=6_000, segments=16, seeds=8, pagerank_iters=2, labelprop_iters=2)
CORPUS = dict(docs=800, vocab=5_000, exact_groups=50, near_groups=50,
              contained=30, files=6, theta_k=4096, theta_groups=4,
              freq_capacity=2048, freq_k=5)


# ---------------------------------------------------------------- digests

def mix(z):
    with np.errstate(over="ignore"):
        z = (np.asarray(z, dtype=U64) + U64(0x9E3779B97F4A7C15))
        z = (z ^ (z >> U64(30))) * U64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> U64(27))) * U64(0x94D049BB133111EB)
        return z ^ (z >> U64(31))


def row_hash(cols):
    h = np.zeros(len(cols[0]), dtype=U64)
    for x in reversed(cols):
        h = mix(np.asarray(x, dtype=U64) ^ h)
    return h


def digest(cols):
    """(rows, checksum) of rows given column-wise as 64-bit word arrays."""
    if len(cols[0]) == 0:
        return [0, 0]
    return [int(len(cols[0])), int(row_hash(cols).sum(dtype=U64))]


def u64(xs):
    """Non-negative Python ints or signed int64 → uint64 array."""
    return np.asarray([x & MASK for x in xs], dtype=U64) if isinstance(xs, list) \
        else np.asarray(xs).astype(np.int64).view(U64)


# ---------------------------------------------------------------- parquet

def binary_column(words):
    """Fixed-width big-endian binary column from a list of word arrays."""
    n = len(words[0])
    width = 8 * len(words)
    data = np.stack([np.asarray(w, dtype=U64) for w in words], axis=1).astype(">u8").tobytes()
    offsets = (np.arange(n + 1, dtype=np.int32) * width).tobytes()
    return pa.Array.from_buffers(pa.binary(), n, [None, pa.py_buffer(offsets),
                                                 pa.py_buffer(data)])


def write_cells(path, k, c, v, extra=None):
    cols = {"k": binary_column(k), "c": binary_column(c), "v": binary_column(v)}
    cols.update(extra or {})
    pq.write_table(pa.table(cols), path)


def hexw(*ws):
    return "".join("%016x" % (int(w) & MASK) for w in ws)


def write_meta(indir, **kv):
    with open(os.path.join(indir, "meta.txt"), "a") as f:
        for k, v in kv.items():
            f.write(f"{k}={v}\n")


def write_tsv(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write("\t".join(str(x) for x in r) + "\n")


def unique_u64(rng, n):
    """n distinct uniformly random 64-bit words, sorted unsigned."""
    out = np.unique(rng.integers(0, 1 << 64, size=int(n * 1.01) + 16, dtype=U64))
    out = rng.permutation(out)[:n]
    assert len(out) == n
    return np.sort(out)


def kcv_base(rng, nkeys, max_cols):
    """A sorted KCV table: random 64-bit keys and columns (the high bit is
    set on half of them, so signed byte order would misorder), 1..max_cols
    columns per key, 16-byte values."""
    keys = unique_u64(rng, nkeys)
    ncols = rng.integers(1, max_cols + 1, size=nkeys)
    k = np.repeat(keys, ncols)
    c = rng.integers(0, 1 << 64, size=len(k), dtype=U64)
    order = np.lexsort((c, k))
    k, c = k[order], c[order]
    keep = np.ones(len(k), dtype=bool)
    keep[1:] = (k[1:] != k[:-1]) | (c[1:] != c[:-1])
    k, c = k[keep], c[keep]
    vh = rng.integers(0, 1 << 64, size=len(k), dtype=U64)
    vl = rng.integers(0, 1 << 64, size=len(k), dtype=U64)
    return keys, k, c, vh, vl


def slice_rows(k, c, key, cs, ce, limit):
    """Model getSlice: the cells of `key` with cs <= c < ce in unsigned
    order, first `limit` of them. Returns an index array."""
    lo, hi = np.searchsorted(k, key, "left"), np.searchsorted(k, key, "right")
    cols = c[lo:hi]
    a = lo + np.searchsorted(cols, cs, "left")
    b = lo + np.searchsorted(cols, ce, "left")
    return np.arange(a, min(b, a + limit))


def col_range(rng):
    """A column range [cs, ce): the full range, or a random sub-range."""
    if rng.random() < 0.4:
        return 0, MASK
    a, b = sorted(int(x) for x in rng.integers(0, 1 << 64, size=2, dtype=U64))
    return a, max(b, a + 1)


# ---------------------------------------------------------------- kcv_read

def gen_kcv_read(rng, indir):
    P = KCV_READ
    keys, k, c, vh, vl = kcv_base(rng, P["keys"], P["max_cols"])
    shuffle = rng.permutation(len(k))
    write_cells(os.path.join(indir, "segment_cells.parquet"), [k[shuffle]], [c[shuffle]],
                [vh[shuffle], vl[shuffle]])
    hot = rng.permutation(len(keys))  # Zipf rank -> key

    def zipf_keys(n):
        r = np.minimum(rng.zipf(P["zipf"], size=n) - 1, len(keys) - 1)
        return keys[hot[r]]

    def expect(idx):
        return digest([k[idx], c[idx], vh[idx], vl[idx]])

    ops, exp = [], []
    limits = [1, 4, 16, 1000]
    for key in zipf_keys(P["slices"]):
        cs, ce = col_range(rng)
        lim = int(rng.choice(limits))
        ops.append(["slice", hexw(key), "-", "-", hexw(cs), hexw(ce), lim])
        exp.append(expect(slice_rows(k, c, key, cs, ce, lim)))
    for _ in range(P["multislices"]):
        ks = np.unique(zipf_keys(P["multi_keys"] * 4))
        ks = rng.permutation(ks)[:P["multi_keys"]]
        cs, ce = col_range(rng)
        lim = int(rng.choice(limits))
        ops.append(["multislice", ",".join(hexw(x) for x in ks), "-", "-", hexw(cs),
                    hexw(ce), lim])
        exp.append(expect(np.concatenate([slice_rows(k, c, x, cs, ce, lim) for x in ks])))
    for _ in range(P["keyslices"]):
        i = int(rng.integers(0, len(keys) - 300))
        j = i + int(rng.integers(50, 300))
        cs, ce = col_range(rng)
        lim = int(rng.choice(limits))
        ops.append(["keyslices", "-", hexw(keys[i]), hexw(keys[j]), hexw(cs), hexw(ce), lim])
        exp.append(expect(np.concatenate(
            [slice_rows(k, c, x, cs, ce, lim) for x in keys[i:j]])))
    write_tsv(os.path.join(indir, "ops.tsv"), ops)
    write_meta(indir, segments=P["segments"], segment_cells=len(k))
    return {"ops": exp}


# ---------------------------------------------------------------- kcv_mutate

def gen_kcv_mutate(rng, indir):
    P = KCV_MUTATE
    keys, k, c, vh, vl = kcv_base(rng, P["keys"], P["max_cols"])
    write_cells(os.path.join(indir, "base.parquet"), [k], [c], [vh, vl])
    os.makedirs(os.path.join(indir, "batches"))
    # every batch touches base cells no earlier batch touched, taken in the
    # order of one permutation, so each deletion/upsert hits a live cell
    touch = rng.permutation(len(k))
    per = P["deletes"] + P["upserts"] + P["readds"]
    assert P["passes"] * P["batches"] * per <= len(k)
    overlay = {}  # key -> {col: (vh, vl) or None}
    base_h = row_hash([k, c, vh, vl])
    count, total = len(k), int(base_h.sum(dtype=U64))
    reads, read_exp, final, live = [], {}, [], {}
    pos = 0
    for p in range(P["passes"]):
        for b in range(P["batches"]):
            idx = touch[pos:pos + per]
            pos += per
            d_idx = idx[:P["deletes"]]
            u_idx = idx[P["deletes"]:P["deletes"] + P["upserts"]]
            x_idx = idx[P["deletes"] + P["upserts"]:]
            # fresh cells: new random columns under existing keys
            fk = keys[rng.integers(0, len(keys), size=P["adds"])]
            fc = rng.integers(0, 1 << 64, size=P["adds"], dtype=U64)
            n_up = len(u_idx) + len(x_idx)
            nvh = rng.integers(0, 1 << 64, size=n_up + P["adds"], dtype=U64)
            nvl = rng.integers(0, 1 << 64, size=n_up + P["adds"], dtype=U64)
            ak = np.concatenate([k[u_idx], k[x_idx], fk])
            ac = np.concatenate([c[u_idx], c[x_idx], fc])
            dk = np.concatenate([k[d_idx], k[x_idx]])
            dc = np.concatenate([c[d_idx], c[x_idx]])
            rows = [["1", hexw(kk), hexw(cc), hexw(x, y)]
                    for kk, cc, x, y in zip(ak.tolist(), ac.tolist(), nvh.tolist(), nvl.tolist())]
            rows += [["0", hexw(kk), hexw(cc), "-"] for kk, cc in zip(dk.tolist(), dc.tolist())]
            write_tsv(os.path.join(indir, "batches", "p%03d_b%d.tsv" % (p, b)), rows)
            # the model: deletions first, then additions (upserts)
            for kk, cc in zip(dk.tolist(), dc.tolist()):
                overlay.setdefault(kk, {})[cc] = None
            for kk, cc, h1, h2 in zip(ak.tolist(), ac.tolist(), nvh.tolist(), nvl.tolist()):
                overlay.setdefault(kk, {})[cc] = (h1, h2)
            old = base_h[np.concatenate([d_idx, u_idx, x_idx])].sum(dtype=U64)
            new = row_hash([ak, ac, nvh, nvl]).sum(dtype=U64)
            total = (total - int(old) + int(new)) & MASK
            count += P["adds"] - P["deletes"]
            live["%d,%d" % (p, b)] = count
            # read-your-writes, one read per batch, rotating over a key this
            # batch deleted from, upserted, added to, and re-added a cell of
            kind = (p * P["batches"] + b) % 4
            key = int([k[d_idx[0]], k[u_idx[0]], fk[0], k[x_idx[0]]][kind])
            cs, ce = (0, MASK) if kind < 3 else col_range(rng)
            lim = 1000 if kind < 3 else int(rng.choice([1, 4, 16]))
            reads.append([p, b, hexw(key), hexw(cs), hexw(ce), lim])
            read_exp["%d,%d" % (p, b)] = mutated_slice(k, c, vh, vl, overlay, key, cs, ce, lim)
        final.append([count, total])
    write_tsv(os.path.join(indir, "reads.tsv"), reads)
    # the op stream holds this many whole cycles; a run stops there
    write_meta(indir, batches=P["batches"], base_cells=len(k), passes=P["passes"])
    return {"reads": read_exp, "final": final, "live_cells": live,
            "batch_user_bytes": (P["upserts"] + P["readds"] + P["adds"]) * 32
            + (P["deletes"] + P["readds"]) * 16}


def mutated_slice(k, c, vh, vl, overlay, key, cs, ce, limit):
    lo, hi = np.searchsorted(k, U64(key), "left"), np.searchsorted(k, U64(key), "right")
    cells = {int(cc): (int(a), int(b)) for cc, a, b in zip(c[lo:hi], vh[lo:hi], vl[lo:hi])}
    for cc, v in overlay.get(key, {}).items():
        if v is None:
            cells.pop(cc, None)
        else:
            cells[cc] = v
    cols = sorted(cc for cc in cells if cs <= cc < ce)[:limit]
    if not cols:
        return [0, 0]
    return digest([np.full(len(cols), key, U64), np.asarray(cols, U64),
                   np.asarray([cells[x][0] for x in cols], U64),
                   np.asarray([cells[x][1] for x in cols], U64)])


# ---------------------------------------------------------------- graph_olap

def gen_graph(rng, indir):
    """Star components of strongly connected cores (a vertex, or a 2-cycle).
    Each component has a 2-cycle hub holding its two smallest vertex ids,
    and every other core has one edge to the smallest; component sizes
    follow a Zipf law, so hub in-degrees are power-law. Edges run only
    into the hub, so the cores are exactly the SCCs, and every vertex is
    at most 2 hops from its component's smallest id, so the round counts
    of graft's components and SCC loops do not depend on the seed."""
    P = GRAPH
    vids = rng.permutation(np.arange(1, 1 << 40, (1 << 40) // (P["cores"] * 4),
                                     dtype=np.int64))
    nxt = 0
    edges = set()
    comp_sizes = []
    total = 0
    while total < P["cores"]:
        comp_sizes.append(int(min(1 + rng.zipf(1.5), 2000)))
        total += comp_sizes[-1]
    for ncores in comp_sizes:
        pairs = rng.random(ncores - 1) < 0.3  # which non-hub cores are 2-cycles
        n = 2 + len(pairs) + int(pairs.sum())
        ids = [int(x) for x in np.sort(vids[nxt:nxt + n])]
        nxt += n
        hub, rest = ids[:2], iter(ids[2:])
        edges.update([(hub[0], hub[1]), (hub[1], hub[0])])
        for pair in pairs:
            if pair:
                a, b = next(rest), next(rest)
                edges.update([(a, b), (b, a), ((a, b)[int(rng.integers(0, 2))], hub[0])])
            else:
                edges.add((next(rest), hub[0]))
    vertices = np.asarray(vids[:nxt], dtype=np.int64)
    e = np.asarray(sorted(edges), dtype=np.int64)
    src, dst = e[:, 0], e[:, 1]
    w = (src + dst) % 5 + 1
    fam = np.concatenate([np.zeros(len(vertices), np.int64), np.full(len(src), 3, np.int64)])
    ks = np.concatenate([vertices, src])
    cs2 = np.concatenate([np.zeros(len(vertices), np.int64), dst])
    vs = np.concatenate([np.zeros(len(vertices), np.int64), w])
    shuffle = rng.permutation(len(ks))
    write_cells(os.path.join(indir, "adj.parquet"), [u64(ks[shuffle])],
                [u64(fam[shuffle]), u64(cs2[shuffle])], [u64(vs[shuffle])])
    sources = sorted({a for a, _ in edges})
    seeds = [int(x) for x in rng.choice(sources, size=P["seeds"], replace=False)]
    write_meta(indir, graph_segments=P["segments"], seeds=",".join(map(str, seeds)),
               pagerank_iters=P["pagerank_iters"], labelprop_iters=P["labelprop_iters"],
               vertices=len(vertices), edges=len(src))
    return graph_expected(vertices, src, dst, seeds, len(comp_sizes))


def graph_expected(vertices, src, dst, seeds, planted_components):
    P = GRAPH
    con = duckdb.connect()
    con.register("v_df", pa.table({"vid": vertices}))
    con.register("e_df", pa.table({"src": src, "dst": dst}))
    con.execute("CREATE TABLE v AS SELECT vid FROM v_df")
    con.execute("CREATE TABLE e AS SELECT src, dst FROM e_df")
    # two-hop paths from the seeds, with multiplicity
    hop = con.execute(
        "SELECT a.src, a.dst, b.dst FROM e a JOIN e b ON b.src = a.dst "
        f"WHERE a.src IN ({','.join(map(str, seeds))})").fetchnumpy()
    cols = list(hop.values())
    out = {"adjacency": [len(vertices) + len(src), 0],
           "traversal": digest([u64(x) for x in cols])}
    # PageRank, the integer recurrence: pr0 = 1e12 div N,
    # pr'(v) = 15*pr0 div 100 + (85 * sum_in(pr(u) div outdeg(u))) div 100
    n = len(vertices)
    init = 10 ** 12 // n
    base = 15 * init // 100
    con.execute("CREATE TABLE deg AS SELECT src, COUNT(*) AS deg FROM e GROUP BY src")
    con.execute(f"CREATE TABLE pr AS SELECT vid, CAST({init} AS BIGINT) AS pr FROM v")
    for _ in range(P["pagerank_iters"]):
        con.execute(
            f"CREATE OR REPLACE TABLE pr AS SELECT v.vid, "
            f"CAST({base} + (85 * COALESCE(m.m, 0)) // 100 AS BIGINT) AS pr FROM v LEFT JOIN "
            "(SELECT e.dst AS vid, SUM(p.pr // d.deg) AS m FROM e "
            "JOIN pr p ON p.vid = e.src JOIN deg d ON d.src = e.src GROUP BY 1) m "
            "ON m.vid = v.vid")
    pr = con.execute("SELECT vid, pr FROM pr").fetchnumpy()
    out["pagerank"] = digest([u64(pr["vid"]), u64(pr["pr"])])
    # synchronous label propagation: most frequent neighbour
    # label, ties to the smallest; vertices without neighbours keep theirs
    con.execute("CREATE TABLE u AS SELECT src, dst FROM e UNION SELECT dst, src FROM e")
    con.execute("CREATE TABLE lbl AS SELECT vid, vid AS lbl FROM v")
    for _ in range(P["labelprop_iters"]):
        con.execute(
            "CREATE OR REPLACE TABLE lbl AS SELECT l.vid, COALESCE(t.lbl, l.lbl) AS lbl "
            "FROM lbl l LEFT JOIN (SELECT vid, lbl FROM (SELECT vid, lbl, row_number() OVER "
            "(PARTITION BY vid ORDER BY c DESC, lbl ASC) AS rn FROM (SELECT u.dst AS vid, "
            "l.lbl, COUNT(*) AS c FROM u JOIN lbl l ON l.vid = u.src GROUP BY 1, 2)) "
            "WHERE rn = 1) t ON t.vid = l.vid")
    lp = con.execute("SELECT vid, lbl FROM lbl").fetchnumpy()
    out["labelprop"] = digest([u64(lp["vid"]), u64(lp["lbl"])])
    g = nx.DiGraph()
    g.add_nodes_from(vertices.tolist())
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    comps = list(nx.weakly_connected_components(g))
    assert len(comps) == planted_components, (len(comps), planted_components)
    out["cc"] = labelled_digest(comps)
    out["scc"] = labelled_digest(nx.strongly_connected_components(g))
    return out


def labelled_digest(groups):
    """Digest of (member, min member) rows over a partition of vertices."""
    vid, lab = [], []
    for grp in groups:
        m = min(grp)
        vid.extend(grp)
        lab.extend([m] * len(grp))
    return digest([u64(vid), u64(lab)])


# ---------------------------------------------------------------- corpus_dedup

BOILERPLATE = [("share", "this", "story"), ("read", "more", "here"),
               ("all", "rights", "reserved"), ("sign", "up", "today"),
               ("terms", "of", "use"), ("follow", "us", "online")]
BOILERPLATE_FREQ = [0.6, 0.5, 0.4, 0.3, 0.2, 0.1]


def gen_corpus(rng, indir):
    """Random documents over a Zipf vocabulary, with planted exact copies,
    one-word-edit near copies (Jaccard >= 0.9), contained documents (a
    document that is the prefix of a longer one: containment 1, Jaccard
    < 0.5) and boilerplate phrases of known frequency."""
    P = CORPUS
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({"".join(rng.choice(letters, size=int(rng.integers(4, 9))))
                    for _ in range(P["vocab"] * 2)})
    vocab = list(rng.permutation(vocab)[:P["vocab"]])
    pw = 1.0 / np.arange(1, len(vocab) + 1)
    pw /= pw.sum()

    def words(n):
        return [vocab[i] for i in rng.choice(len(vocab), size=n, p=pw)]

    def with_boilerplate(ws):
        for phrase, f in zip(BOILERPLATE, BOILERPLATE_FREQ):
            if rng.random() < f:
                at = int(rng.integers(0, len(ws) + 1))
                ws = ws[:at] + list(phrase) + ws[at:]
        return ws

    docs, groups, planted = [], [], []
    n_plain = P["docs"] - 2 * P["exact_groups"] - P["near_groups"] - P["contained"]
    for _ in range(n_plain):
        docs.append(with_boilerplate(words(int(rng.integers(40, 121)))))
    for _ in range(P["exact_groups"]):
        a = len(docs)
        docs.append(with_boilerplate(words(int(rng.integers(40, 121)))))
        docs.append(list(docs[a]))
        groups.append([a, a + 1])
    for _ in range(P["near_groups"]):
        a = len(docs)
        docs.append(with_boilerplate(words(int(rng.integers(60, 121)))))
        near = list(docs[a])
        at = int(rng.integers(0, len(near)))
        sub = near[at]
        while sub in near:  # a word the document does not contain
            sub = vocab[int(rng.integers(0, len(vocab)))]
        near[at] = sub
        docs.append(near)
        groups.append([a, a + 1])
    for i in range(P["contained"]):
        docs[i] = docs[i][:60]  # a short plain document ...
        docs.append(docs[i] + words(80))  # ... is the prefix of a longer one
    order = rng.permutation(len(docs))  # doc_id = position after shuffling
    doc_id = np.empty(len(docs), np.int64)
    doc_id[order] = np.arange(len(docs))
    texts = [" ".join(d) for d in docs]
    table = pa.table({"doc_id": pa.array(np.arange(len(docs), dtype=np.int64)),
                      "text": pa.array([texts[i] for i in order])})
    pq.write_table(table, os.path.join(indir, "corpus.parquet"))
    for grp in groups:
        ids = sorted(int(doc_id[i]) for i in grp)
        planted.extend((a, b) for x, a in enumerate(ids) for b in ids[x + 1:])
    write_tsv(os.path.join(indir, "planted_pairs.tsv"), planted)
    write_meta(indir, files=P["files"], theta_k=P["theta_k"],
               theta_groups=P["theta_groups"], freq_capacity=P["freq_capacity"],
               freq_k=P["freq_k"], docs=len(docs))
    return corpus_expected(table, len(planted))


def corpus_expected(table, n_planted):
    P = CORPUS
    con = duckdb.connect()
    con.register("docs_df", table)
    con.execute("CREATE TABLE documents AS SELECT doc_id, text FROM docs_df")
    # distinct 3-word shingles per document (1-based lists)
    con.execute(
        "CREATE TABLE sh AS SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s "
        "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t, "
        "UNNEST(range(1, len(w) - 1)) AS u(i) WHERE len(w) >= 3")
    out = {"planted_pairs": n_planted}
    ex = con.execute("SELECT min(doc_id), count(*) FROM documents GROUP BY text").fetchnumpy()
    out["exact_dup"] = digest([u64(x) for x in ex.values()])
    # containment over rare shingles (document frequency <= 50):
    # cont6 = (10^6 * |rare(a) & rare(b)|) div |rare(a)| >= 800000
    ct = con.execute(
        "WITH df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s), "
        "rare AS (SELECT sh.doc_id, sh.s FROM sh JOIN df USING (s) WHERE df.df <= 50), "
        "sizes AS (SELECT doc_id, COUNT(*) AS n FROM rare GROUP BY 1), "
        "inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS c FROM rare a "
        "JOIN rare b ON a.s = b.s AND a.doc_id <> b.doc_id GROUP BY 1, 2) "
        "SELECT a_id, b_id, sizes.n AS na, (1000000 * c) // sizes.n AS cont6 "
        "FROM inter JOIN sizes ON sizes.doc_id = a_id WHERE (1000000 * c) // sizes.n >= 800000"
    ).fetchnumpy()
    out["containment"] = digest([u64(ct[x]) for x in ("a_id", "b_id", "na", "cont6")])
    # near-duplicate groups: components of the exact Jaccard >= 0.5 graph;
    # candidates share a shingle of document frequency <= 200
    pairs = con.execute(
        "WITH df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s), "
        "cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM sh a "
        "JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id JOIN df ON df.s = a.s "
        "WHERE df.df <= 200), "
        "sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1), "
        "inter AS (SELECT cand.a_id, cand.b_id, COUNT(*) AS c FROM cand "
        "JOIN sh a ON a.doc_id = cand.a_id JOIN sh b ON b.doc_id = cand.b_id AND b.s = a.s "
        "GROUP BY 1, 2) "
        "SELECT a_id, b_id FROM inter JOIN sizes sa ON sa.doc_id = a_id "
        "JOIN sizes sb ON sb.doc_id = b_id WHERE 2 * c >= sa.n + sb.n - c").fetchall()
    g = nx.Graph()
    g.add_nodes_from(range(table.num_rows))
    g.add_edges_from(pairs)
    out["dup_groups"] = labelled_digest(nx.connected_components(g))
    theta = con.execute(
        f"SELECT doc_id % {P['theta_groups']} AS g, COUNT(DISTINCT s) FROM sh "
        "GROUP BY 1 ORDER BY 1").fetchall()
    out["theta"] = [[int(a), int(b)] for a, b in theta]
    counts = con.execute("SELECT s, COUNT(*) AS n FROM sh GROUP BY s "
                         "ORDER BY n DESC, s ASC").fetchall()
    out["freq_counts"] = {s: int(n) for s, n in counts[:200]}
    out["freq_top"] = [s for s, _ in counts[:P["freq_k"]]]
    out["freq_total"] = int(con.execute("SELECT COUNT(*) FROM sh").fetchone()[0])
    return out


GENERATORS = {
    "kcv": lambda rng, d: {**gen_kcv_read(rng, d), **gen_kcv_mutate(rng, d)},
    "analytics": lambda rng, d: {**gen_graph(rng, d), **gen_corpus(rng, d)},
}


def generate(workload, seed, indir):
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    os.makedirs(indir, exist_ok=True)
    expected = GENERATORS[workload](rng, indir)
    with open(os.path.join(indir, "expected.json"), "w") as f:
        json.dump(expected, f)
    return expected


# ---------------------------------------------------------------- checks

GRAPH_OPS = {"graph.traversal": "traversal",
             "graph.pagerank": "pagerank", "graph.cc": "cc",
             "graph.labelprop": "labelprop", "graph.scc": "scc"}


CORPUS_OPS = {"pipeline.exact_dup": "exact_dup", "pipeline.containment": "containment",
              "pipeline.dup_groups": "dup_groups"}


def check_op(exp, r):
    """True when a call's result matches the expected answer. Store
    builds, appends and compactions fail only by raising."""
    got = [r["rows"], int(r["sum"]) & MASK]
    op = r["op"]
    if op in ("kv.slice", "kv.multislice", "kv.keyslices"):
        return got == exp["ops"][r["i"]]
    if op == "kv.merge_read":
        return got == exp["reads"]["%d,%d" % (r["pass"], r["i"])]
    if op == "kv.reopen_check":
        return got == exp["final"][r["pass"]]
    if op == "graph.adjacency_load":
        return got[0] == exp["adjacency"][0]
    if op in GRAPH_OPS:
        return got == exp[GRAPH_OPS[op]]
    if op in CORPUS_OPS:
        return got == exp[CORPUS_OPS[op]]
    if op == "pipeline.minhash_lsh":
        d = json.loads(r["detail"])
        return d["planted_found"] == d["planted"] == exp["planted_pairs"]
    if op == "operators.theta":
        k = CORPUS["theta_k"]
        est = json.loads(r["detail"])
        if [g for g, _ in est] != [g for g, _ in exp["theta"]]:
            return False
        # exact below k distinct values; else within 5 standard errors
        return all(e == x if x < k else abs(e - x) <= 5 * x / math.sqrt(k - 2)
                   for (_, e), (_, x) in zip(est, exp["theta"]))
    if op == "operators.freqitems":
        # Misra-Gries: each reported term's true count is within
        # total / (capacity + 1) of the true count at its rank
        top = json.loads(r["detail"])
        slack = exp["freq_total"] / (CORPUS["freq_capacity"] + 1)
        counts = exp["freq_counts"]
        return (len(top) == len(exp["freq_top"]) == len(set(top)) and
                all(counts.get(t, 0) >= counts[w] - slack
                    for t, w in zip(top, exp["freq_top"])))
    return True


def check(indir, records):
    """(attempted, failed, wrong): every timed call counts as attempted;
    a call fails by raising or by returning a wrong answer."""
    with open(os.path.join(indir, "expected.json")) as f:
        exp = json.load(f)
    ops = [r for r in records if r["kind"] == "op"]
    failed = wrong = 0
    for r in ops:
        if "err" in r:
            failed += 1
        elif not check_op(exp, r):
            wrong += 1
    return len(ops), failed + wrong, wrong
