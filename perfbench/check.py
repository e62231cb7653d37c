"""Checks every op of a run against an answer computed independently of
the engine: DuckDB over the same parquet files, exact Jaccard and
triangle counts computed here.

`check_run(ops, rows, data_dir, cache_dir)` returns the indexes of the ops
that failed (threw in the engine, or answered wrong) with a reason each.
"""

import hashlib
import json
import math
import os
import re
from decimal import Decimal

TOLERANCE = 1.5e-6


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return str(v)


def _same(a, b):
    a, b = _norm(a), _norm(b)
    num = (int, float)
    if isinstance(a, num) and isinstance(b, num) and not isinstance(a, bool) and not isinstance(b, bool):
        if isinstance(a, float) and math.isnan(a) or isinstance(b, float) and math.isnan(b):
            return False
        return abs(a - b) <= TOLERANCE + 1e-9 * max(abs(a), abs(b))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def compare(got, want):
    """None when `got` equals `want` row by row, else the first difference."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            return f"row {i}: {g!r} != expected {w!r}"
    return None


def lsh_miss(score, lsh):
    """Chance that LSH banding never puts a pair of this similarity in one
    bucket: (1 - p**rows)**bands, p the chance that one hash agrees. For
    minhash p is the Jaccard itself; for random-hyperplane signatures of a
    cosine it is 1 - acos(cosine) / pi."""
    p = score if lsh["curve"] == "minhash" else 1 - math.acos(max(-1.0, min(1.0, score))) / math.pi
    return (1 - p ** lsh["rows"]) ** lsh["bands"]


def allowed_misses(scores, lsh):
    """Pairs an LSH op may miss among true pairs of these scores: the
    expected number of misses plus three standard deviations, rounded down
    (0 without banding)."""
    if not lsh:
        return 0
    ps = [lsh_miss(s, lsh) for s in scores]
    return int(sum(ps) + 3 * math.sqrt(sum(p * (1 - p) for p in ps)))


def compare_band(got, candidates, hi, lsh=None):
    """`candidates` are (a, b, score) with score near or above the threshold;
    those scoring at least `hi` are required, less the misses `lsh` allows."""
    allowed = {(a, b): s for a, b, s in candidates}
    required = {k for k, s in allowed.items() if s >= hi}
    seen = set()
    for r in got:
        key = (r[0], r[1])
        if key in seen:
            return f"duplicate pair {key}"
        seen.add(key)
        if key not in allowed:
            return f"pair {key} is below the threshold"
        if not _same(r[2], allowed[key]):
            return f"pair {key} scored {r[2]}, expected {allowed[key]}"
    missing = required - seen
    if len(missing) > allowed_misses([allowed[k] for k in required], lsh):
        return f"{len(missing)} of {len(required)} pairs missing, e.g. {sorted(missing)[0]}"
    if [tuple(r[:2]) for r in got] != sorted(seen):
        return "pairs not ordered by (idA, idB)"
    return None


# --- exact Jaccard over document shingles ---------------------------------

def _shingles(text, mode, k):
    if mode == "chars":
        n = re.sub(r"\s+", " ", text.strip().lower())
        return {n[i:i + k] for i in range(len(n) - k + 1)} if len(n) >= k else None
    toks = [t for t in re.split(r"\s+", text.strip().lower()) if t]
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)} if len(toks) >= k else None


def jaccard_pairs(docs, mode, k, threshold):
    """All (idA, idB, jaccard) with idA < idB and jaccard >= threshold."""
    import numpy as np
    sets = [(i, s) for i, s in ((i, _shingles(t, mode, k)) for i, t in docs) if s]
    vocab = {}
    for _, s in sets:
        for g in s:
            vocab.setdefault(g, len(vocab))
    m = np.zeros((len(sets), len(vocab)), dtype=np.float32)
    for r, (_, s) in enumerate(sets):
        m[r, [vocab[g] for g in s]] = 1.0
    inter = m @ m.T  # exact: counts stay far below 2**24
    sizes = m.sum(axis=1)
    out = []
    for a, b in zip(*np.nonzero(np.triu(inter, 1))):
        i = int(inter[a, b])
        j = i / (int(sizes[a]) + int(sizes[b]) - i)
        if j >= threshold:
            ia, ib = sets[a][0], sets[b][0]
            out.append((min(ia, ib), max(ia, ib), j))
    return sorted(out)


def clusters(pairs):
    """(member, smallest id of its component) for every member of a pair."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((x, find(x)) for x in parent)


# --- streamed triangle counts -----------------------------------------------

class TriangleReplay:
    """Triangles and distinct edges of the simple undirected graph of every
    edge streamed so far (self-loops and repeats ignored)."""

    def __init__(self):
        self.adj = {}
        self.edges = 0
        self.triangles = 0

    def add(self, edges):
        for u, v in edges:
            if u == v or v in self.adj.get(u, ()):
                continue
            nu, nv = self.adj.setdefault(u, set()), self.adj.setdefault(v, set())
            self.triangles += len(nu & nv)
            nu.add(v)
            nv.add(u)
            self.edges += 1


# --- the run ---------------------------------------------------------------

class Oracles:
    """Answers from DuckDB and from the documents, cached on disk by query."""

    def __init__(self, data_dir, cache_dir):
        self.data_dir, self.cache_dir = data_dir, cache_dir
        self._con = None
        self._docs = None

    def con(self):
        if self._con is None:
            import duckdb
            self._con = duckdb.connect()
            self._con.execute("SET threads TO 4")
            for f in sorted(os.listdir(self.data_dir)):
                if f.endswith(".parquet"):
                    path = os.path.join(self.data_dir, f).replace("'", "''")
                    self._con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        return self._con

    def cached(self, key, compute):
        path = os.path.join(self.cache_dir, hashlib.sha256(key.encode()).hexdigest() + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        rows = [[_norm(v) for v in r] for r in compute()]
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(rows, f)
        os.replace(path + ".tmp", path)
        return rows

    def sql(self, sql):
        return self.cached("sql\n" + sql, lambda: self.con().execute(sql).fetchall())

    def jaccard(self, mode, k, threshold, output):
        def compute():
            if self._docs is None:
                self._docs = self.con().execute("SELECT doc_id, text FROM documents ORDER BY doc_id").fetchall()
            pairs = jaccard_pairs(self._docs, mode, k, threshold)
            if output == "pairs":
                return pairs
            losers = {m for m, c in clusters(pairs) if m != c}
            return [(d,) for d, _ in self._docs if d not in losers]
        return self.cached(f"jaccard {mode} {k} {threshold!r} {output}", compute)


def check_run(ops, rows, data_dir, cache_dir):
    """`ops`: the op records of ops.jsonl in order; `rows`: idx -> result rows.
    Returns {idx: reason} for every failed op."""
    oracles = Oracles(data_dir, cache_dir)
    stream = TriangleReplay()
    failed = {}
    for rec in ops:
        op = rec["op"]
        idx = op["idx"]
        oracle = op["oracle"]
        got = rows.get(idx, [])
        if op["template"] == "ingest_write":
            stream.add(op["params"]["edges"])
        if rec.get("replay_only"):
            continue
        if rec.get("error"):
            failed[idx] = "engine error: " + rec["error"]
            continue
        try:
            kind = oracle["kind"]
            if kind == "sql":
                why = compare(got, oracles.sql(oracle["sql"]))
            elif kind == "band":
                why = compare_band(got, oracles.sql(oracle["sql"]), oracle["hi"], oracle["lsh"])
            elif kind == "jaccard":
                want = oracles.jaccard(oracle["mode"], oracle["k"], oracle["threshold"], oracle["output"])
                if oracle.get("lsh"):
                    why = compare_band(got, want, oracle["threshold"], oracle["lsh"])
                else:
                    why = compare(got, want)
            elif kind == "stream_counts":
                head = [stream.triangles] if op["template"] == "ingest_write" else [stream.triangles, stream.edges]
                why = compare(got, [head] + oracle["rows"])
            else:
                why = f"unknown oracle kind {kind}"
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"check error: {type(e).__name__}: {e}"
        if why:
            failed[idx] = why
    return failed
