"""DuckDB reference answers and the per-run answer check.

The reference of a fixture is built once, from the gates' own oracle SQL
(`SparkEntry.oracleSql`, the SQL scripts/check_oracle.py runs) over the
same generated parquet files, and cached by the fixture fingerprint. Each
answer is reduced to its row count and an order-insensitive digest: the
columns sorted by name, every value stringified the way check_oracle.py
compares values, the row strings sorted and hashed. Four gates have no
SQL oracle; their answers are checked with check_oracle.py's Python
checks instead (murmur3 vectors, the seeded sample draw, IVF recall and
the sketch error bounds).
"""
import glob
import hashlib
import json
import os

import duckdb
import numpy as np
import pyarrow.parquet as papq


def fingerprint(data_dir):
    """graft.Bench.stampFixture's fixture fingerprint: md5 over
    "name:files:bytes" of the directory's sorted top-level entries."""
    entries = []
    for name in sorted(os.listdir(data_dir)):
        p = os.path.join(data_dir, name)
        if os.path.isfile(p):
            entries.append(f"{name}:1:{os.path.getsize(p)}")
        elif os.path.isdir(p):
            files = total = 0
            for d, _, fnames in os.walk(p):
                for f in fnames:
                    if not f.startswith((".", "_")):
                        files += 1
                        total += os.path.getsize(os.path.join(d, f))
            entries.append(f"{name}:{files}:{total}")
    return hashlib.md5(";".join(entries).encode()).hexdigest()


def connect(data_dir, threads):
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for f in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    return con


def digest(df):
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(f"{v}" for v in row)
                  for row in df[cols].itertuples(index=False, name=None))
    h = hashlib.md5(("\x1e".join(cols) + "\x1d").encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return h.hexdigest()


def reference(data_dir, oracle_sql, gates, cache_dir, threads):
    """{gate: {"rows", "digest"}} for the SQL-oracled gates, cached per
    fixture fingerprint (a cached file is extended when gates are added)."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, fingerprint(data_dir) + ".json")
    ref = json.load(open(path)) if os.path.isfile(path) else {}
    todo = [g for g in gates if g not in ref and g in oracle_sql and g not in SPECIAL]
    if todo:
        con = connect(data_dir, threads)
        for g in todo:
            df = con.execute(oracle_sql[g]).fetchdf()
            ref[g] = {"rows": len(df), "digest": digest(df)}
        con.close()
        with open(path + ".tmp", "w") as fh:
            json.dump(ref, fh)
        os.replace(path + ".tmp", path)
    return ref


def check(data_dir, check_dir, gates, ref, threads):
    """{gate: None if the answer is right, else the reason}."""
    con = connect(data_dir, threads)
    out = {}
    for g in gates:
        files = glob.glob(os.path.join(check_dir, g, "*.parquet"))
        if not files:
            out[g] = "no answer written"
            continue
        got = con.execute(f"SELECT * FROM '{os.path.join(check_dir, g)}/*.parquet'").fetchdf()
        if len(got) == 0:
            out[g] = "empty answer"
        elif g in SPECIAL:
            out[g] = SPECIAL[g](con, data_dir, got)
        elif g not in ref:
            out[g] = "no oracle"
        elif len(got) != ref[g]["rows"]:
            out[g] = f"rows {len(got)} != oracle {ref[g]['rows']}"
        elif digest(got) != ref[g]["digest"]:
            out[g] = "digest differs from oracle"
        else:
            out[g] = None
    con.close()
    return out


# ---- check_oracle.py's value checks for the gates without SQL oracle ----

MASK64 = (1 << 64) - 1


def mmh3_hash64(data, seed=0):
    """First 64-bit word of murmur3 x64_128, signed."""
    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & MASK64

    def fmix(k):
        k ^= k >> 33
        k = (k * 0xFF51AFD7ED558CCD) & MASK64
        k ^= k >> 33
        k = (k * 0xC4CEB9FE1A85EC53) & MASK64
        return k ^ (k >> 33)

    c1, c2 = 0x87C37B91114253D5, 0x4CF5AD432745937F
    h1 = h2 = seed & MASK64
    n = len(data)
    nblocks = n // 16
    for i in range(nblocks):
        k1 = int.from_bytes(data[i * 16:i * 16 + 8], "little")
        k2 = int.from_bytes(data[i * 16 + 8:i * 16 + 16], "little")
        k1 = (rotl((k1 * c1) & MASK64, 31) * c2) & MASK64
        h1 ^= k1
        h1 = (rotl(h1, 27) + h2) & MASK64
        h1 = (h1 * 5 + 0x52DCE729) & MASK64
        k2 = (rotl((k2 * c2) & MASK64, 33) * c1) & MASK64
        h2 ^= k2
        h2 = (rotl(h2, 31) + h1) & MASK64
        h2 = (h2 * 5 + 0x38495AB5) & MASK64
    tail = data[nblocks * 16:]
    k1 = k2 = 0
    if len(tail) >= 9:
        for j in range(len(tail) - 1, 7, -1):
            k2 ^= tail[j] << ((j - 8) * 8)
        h2 ^= (rotl((k2 * c2) & MASK64, 33) * c1) & MASK64
    if tail:
        for j in range(min(len(tail), 8) - 1, -1, -1):
            k1 ^= tail[j] << (j * 8)
        h1 ^= (rotl((k1 * c1) & MASK64, 31) * c2) & MASK64
    h1 ^= n
    h2 ^= n
    h1 = (h1 + h2) & MASK64
    h2 = (h2 + h1) & MASK64
    h1 = (fmix(h1) + fmix(h2)) & MASK64
    return h1 - (1 << 64) if h1 >= (1 << 63) else h1


class JavaRandom:
    """java.util.Random's LCG (Sampling.sampleNWithReplacement's draw)."""

    def __init__(self, seed):
        self.seed = (seed ^ 0x5DEECE66D) & ((1 << 48) - 1)

    def _next(self, bits):
        self.seed = (self.seed * 0x5DEECE66D + 0xB) & ((1 << 48) - 1)
        r = self.seed >> (48 - bits)
        return r - (1 << 32) if bits == 32 and r >= (1 << 31) else r

    def next_long(self):
        v = ((self._next(32) << 32) + self._next(32)) & MASK64
        return v - (1 << 64) if v >= (1 << 63) else v


def bounded_long(rng, bound):
    m63 = (1 << 63) - 1
    mx = (m63 // bound) * bound
    while True:
        v = rng.next_long() & m63
        if v < mx:
            return v % bound


def check_keyhash(con, data_dir, got):
    nation = papq.read_table(f"{data_dir}/nation.parquet").to_pydict()
    exp = sorted((k, abs(mmh3_hash64(f"{k}\t{n}".encode())))
                 for k, n in zip(nation["n_nationkey"], nation["n_name"]))
    act = sorted(zip(got["n_nationkey"].astype(int), got["key_hash"].astype(int)))
    return None if act == exp else "mmh3 values differ"


def check_sample_n_replace(con, data_dir, got):
    keys = papq.read_table(f"{data_dir}/orders.parquet").column("o_orderkey").to_pylist()
    rng = JavaRandom(7)
    exp = sorted(keys[bounded_long(rng, len(keys))] for _ in range(100))
    return None if sorted(got["o_orderkey"].astype(int)) == exp else "seed-7 sample differs"


def check_ivf_topk(con, data_dir, got):
    t = papq.read_table(f"{data_dir}/embeddings.parquet").to_pydict()
    ids = np.array(t["vec_id"])
    vecs = np.array([list(v) for v in t["embedding"]], dtype=np.float64)
    norms = np.linalg.norm(vecs, axis=1)
    truth = {}
    for qid, qv, qn in zip(ids[ids < 10], vecs[ids < 10], norms[ids < 10]):
        cos = (vecs @ qv) / (norms * qn)
        top = sorted(zip(-cos, ids), key=lambda p: (p[0], p[1]))[:3]
        truth[int(qid)] = {int(i) for _, i in top}
    row = {int(i): n for n, i in enumerate(ids)}
    hits = 0
    for q, v, c in zip(got["query_id"], got["vec_id"], got["cosine"]):
        q, v = int(q), int(v)
        hits += v in truth[q]
        true_cos = float(vecs[row[v]] @ vecs[row[q]] / (norms[row[v]] * norms[row[q]]))
        if abs(float(c) - true_cos) > 1e-5:
            return f"cosine {c} != {true_cos} for q{q}/v{v}"
    per_q = got.groupby("query_id").size()
    if len(per_q) != 10 or (per_q != 3).any():
        return "expected 3 rows for each of 10 queries"
    recall = hits / len(got)
    return None if recall >= 0.85 else f"IVF recall {recall:.2f} < 0.85"


def check_agg_registry_approx(con, data_dir, got):
    exact = con.execute("""
        SELECT l_returnflag, count(DISTINCT l_orderkey) AS du,
               quantile_disc(l_quantity, 0.495) AS qlo,
               quantile_disc(l_quantity, 0.505) AS qhi,
               quantile_disc(l_extendedprice, 0.495) AS plo,
               quantile_disc(l_extendedprice, 0.505) AS phi
        FROM lineitem GROUP BY l_returnflag""").fetchdf().set_index("l_returnflag")
    if sorted(got["l_returnflag"]) != sorted(exact.index):
        return "groups differ"
    eps = 1e-9
    for _, r in got.iterrows():
        e = exact.loc[r["l_returnflag"]]
        if abs(float(r["l_orderkey:approx_uniq_count"]) - e["du"]) > max(0.20 * e["du"], 2):
            return "approx_uniq_count outside the 4-sigma HLL bound"
        if not e["qlo"] - eps <= float(r["l_quantity:approx_median"]) <= e["qhi"] + eps:
            return "l_quantity approx_median outside the rank window"
        if not e["plo"] - eps <= float(r["l_extendedprice:approx_median"]) <= e["phi"] + eps:
            return "l_extendedprice approx_median outside the rank window"
    return None


SPECIAL = {
    "q_keyhash_mmh3": check_keyhash,
    "q_sample_n_replace": check_sample_n_replace,
    "q_sim_ivf_topk": check_ivf_topk,
    "q_agg_registry_approx": check_agg_registry_approx,
}
