"""Output checks for the batch items, outside the timed window.

Query items are compared with DuckDB running the item's oracle SQL on the
same parquet tables, by the rules of `tools/preflight.py`: columns by name,
rows in result order, floats bitwise. Kernel items are compared with
independent Python references over the same tables, rows ordered by the
item's key columns. Expected results are fingerprinted and cached per data
set, so the oracle runs once per checkout."""
import decimal
import hashlib
import json
import math
from pathlib import Path

import duckdb
import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

HASH_P = 2147483647
HASH_A = [1 + (i * 2654435761) % (HASH_P - 2) for i in range(1, 65)]
HASH_B = [(i * 40503 * 7919) % HASH_P for i in range(1, 65)]


def canon(v):
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v))
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else ("f", v.hex())
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def fingerprint(cols, rows, keys=()):
    """Columns sorted by name, rows in the given order (or sorted by `keys`),
    values canonical."""
    idx = [cols.index(c) for c in sorted(cols)]
    rs = [tuple(canon(r[i]) for i in idx) for r in rows]
    if keys:
        kidx = [sorted(cols).index(k) for k in keys]
        rs.sort(key=lambda r: tuple(r[i] for i in kidx))
    h = hashlib.sha256(repr((sorted(cols), rs)).encode()).hexdigest()
    return {"rows": len(rs), "sha256": h}


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _probe_pairs(ids, probes):
    """(row, probe row) index pairs: every id against each id below `probes`,
    the kernel items' cross join."""
    ps = [j for j, x in enumerate(ids) if x < probes]
    return [(i, j) for i in range(len(ids)) for j in ps]


def _md5_prefix(s, nbytes):
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:nbytes], "big")


def kernel_reference(name, data_dir):
    """(columns, rows) of a kernel item, computed without Spark."""
    docs = pq.read_table(f"{data_dir}/documents.parquet").to_pydict()
    ids, texts = docs["doc_id"], docs["text"]
    if name == "k_minhash_sig":
        a, b = np.array(HASH_A, np.int64)[:, None], np.array(HASH_B, np.int64)[:, None]
        rows = []
        for i, t in zip(ids, texts):
            tk = t.split(" ")
            if len(tk) < 3:
                rows.append((i, None))
                continue
            sh = {" ".join(tk[k:k + 3]) for k in range(len(tk) - 2)}
            x = np.array([_md5_prefix(s, 4) for s in sh], np.int64)[None, :]
            rows.append((i, [int(v) for v in ((a * x + b) % HASH_P).min(axis=1)]))
        return ["doc_id", "sig"], rows
    if name == "k_simhash16":
        rows = []
        for i, t in zip(ids, texts):
            votes = [0] * 16
            for tok in dict.fromkeys(t.split(" ")):
                h = _md5_prefix(tok, 2)
                for bit in range(16):
                    votes[bit] += 1 if (h >> bit) & 1 else -1
            rows.append((i, sum(1 << bit for bit in range(16) if votes[bit] > 0)))
        return ["doc_id", "sig"], rows
    if name in ("k_jaccard", "k_overlap"):
        toks = [set(t.split(" ")) for t in texts]
        rows = []
        for a, b in _probe_pairs(ids, 8):
            common = len(toks[a] & toks[b])
            if name == "k_overlap":
                rows.append((ids[a], ids[b], common))
            else:
                rows.append((ids[a], ids[b], common / (len(toks[a]) + len(toks[b]) - common)))
        return ["a_id", "b_id", "common" if name == "k_overlap" else "jacc"], rows
    if name == "k_charhist_l1":
        hist = np.zeros((len(texts), 64), np.int64)
        for r, t in enumerate(texts):
            for byte in t.encode():
                if byte & 0xC0 != 0x80:
                    hist[r, byte & 63] += 1
        pairs = _probe_pairs(ids, 8)
        pa_, pb_ = np.array([p[0] for p in pairs]), np.array([p[1] for p in pairs])
        l1 = np.abs(hist[pa_] - hist[pb_]).sum(axis=1)
        return ["a_id", "b_id", "l1"], [(ids[a], ids[b], int(v)) for (a, b), v in zip(pairs, l1)]
    if name == "k_dot":
        emb = pq.read_table(f"{data_dir}/embeddings.parquet").to_pydict()
        vids = emb["vec_id"]
        vec = np.array(emb["embedding"], np.float32).astype(np.float64)
        pairs = _probe_pairs(vids, 16)
        pa_, pb_ = np.array([p[0] for p in pairs]), np.array([p[1] for p in pairs])
        # left-to-right accumulation, as the kernel sums
        dots = np.cumsum(vec[pa_] * vec[pb_], axis=1)[:, -1]
        return ["a_id", "b_id", "dot"], [(vids[a], vids[b], float(v)) for (a, b), v in zip(pairs, dots)]
    raise KeyError(name)


def expected(item, sql, data_dir, cache_dir):
    """The expected fingerprint of `item`, from the cache or computed now."""
    ref = sql if sql is not None else Path(__file__).read_text()
    key = hashlib.sha256(f"{item}\n{ref}".encode()).hexdigest()[:16]
    path = Path(cache_dir, Path(data_dir).name, f"{item}-{key}.json")
    if path.exists():
        return json.loads(path.read_text())
    if sql is None:
        cols, rows = kernel_reference(item, data_dir)
        fp = fingerprint(cols, rows, keys=tuple(c for c in cols if c.endswith("_id")))
    else:
        rel = connect(data_dir).execute(sql)
        fp = fingerprint([d[0] for d in rel.description], rel.fetchall())
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(fp))
    return fp


def actual(result_dir, keys=()):
    rel = duckdb.connect().execute(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')")
    return fingerprint([d[0] for d in rel.description], rel.fetchall(), keys)


def check_items(raw, out_dir, data_dir, cache_dir):
    """Item name -> None when the item's result matches, else the reason."""
    bad = {}
    checks = {e["item"]: e for e in raw["execs"] if e["mode"] == "check"}
    for it in raw["items"]:
        name = it["name"]
        e = checks.get(name)
        if e is None or not e["ok"]:
            bad[name] = f"execution failed: {e['error'] if e else 'not run'}"
            continue
        sql = raw["oracle_sql"].get(name)
        if sql is None and not name.startswith("k_"):
            bad[name] = "no oracle"
            continue
        try:
            want = expected(name, sql, data_dir, cache_dir)
            got = actual(Path(out_dir, "check", name), tuple(it["row_keys"]))
        except Exception as ex:  # an oracle or read error fails the item
            bad[name] = f"check error: {str(ex)[:200]}"
            continue
        if got != want:
            bad[name] = f"result differs: spark {got} oracle {want}"
    return bad
