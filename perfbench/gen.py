"""Corpus layouts for the benchmark.

* base: the repository's testdata that `graft.Bench` reads (one parquet
  file, one row group per table), used as it lies, read-only. Its root is
  the parent of $SPARK_GRAFT_SF_DIR, else of the default that
  `graft.Bench` names for that variable.
* relaid(sf, k): k key-shifted copies of base sf, written by the engine's
  own `graft.tools.ScaleUp` with a small parquet block size, so that Spark
  splits every large scan across all cores without an engine conf change.

The relaid layout is written once under a content stamp (ScaleUp's source,
the source files, k and the block size) and reused by later runs;
`verify_relaid` checks it table by table against an independent DuckDB
replay of ScaleUp's copy semantics.
"""
import glob
import hashlib
import json
import os
import re
import shutil

import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
# parquet.block.size of the relaid layout: row groups of about 1 MiB
RELAID_BLOCK_BYTES = 1 << 20
SCALEUP_SRC = os.path.join("src", "main", "scala", "graft", "tools", "ScaleUp.scala")
BENCH_SRC = os.path.join("src", "main", "scala", "graft", "Bench.scala")


def testdata_root(repo):
    """Directory holding the sf0.001 / sf0.01 / sf0.1 corpora."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        src = open(os.path.join(repo, BENCH_SRC)).read()
        m = re.search(r'"SPARK_GRAFT_SF_DIR"\s*,\s*"([^"]+)"', src)
        if not m:
            raise RuntimeError(f"{BENCH_SRC} names no default SPARK_GRAFT_SF_DIR")
        sf_dir = m.group(1)
    return os.path.dirname(sf_dir.rstrip("/"))


def base_dir(repo, sf):
    d = os.path.join(testdata_root(repo), f"sf{sf}")
    missing = [t for t in TABLES if not os.path.exists(os.path.join(d, f"{t}.parquet"))]
    if missing:
        raise RuntimeError(f"testdata {d} lacks {missing}")
    return d


def table_info(d):
    """rows, bytes, row groups and files per table of a layout."""
    info = {}
    for t in TABLES:
        p = os.path.join(d, f"{t}.parquet")
        files = sorted(glob.glob(os.path.join(p, "*.parquet"))) if os.path.isdir(p) else [p]
        mds = [pq.ParquetFile(f).metadata for f in files]
        info[t] = {"rows": sum(m.num_rows for m in mds),
                   "bytes": sum(os.path.getsize(f) for f in files),
                   "row_groups": sum(m.num_row_groups for m in mds), "files": len(files)}
    return info


def ensure_relaid(repo, root, src, k, scale_up):
    """Relaid layout of src; returns (dir, layout info, generated_now).
    `scale_up(src, dst, k, block_bytes)` runs graft.tools.ScaleUp."""
    h = hashlib.sha256()
    for p in (os.path.join(repo, SCALEUP_SRC), __file__):
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(json.dumps([k, RELAID_BLOCK_BYTES, sorted(
        (t, os.path.getsize(os.path.join(src, f"{t}.parquet"))) for t in TABLES)]).encode())
    dest = os.path.join(root, f"relaid_{os.path.basename(src)}_k{k}_{h.hexdigest()[:16]}")
    if os.path.exists(os.path.join(dest, "_LAYOUT.json")):
        return dest, json.load(open(os.path.join(dest, "_LAYOUT.json"))), False
    # write into dest.tmp, then rename: a killed run never leaves a
    # half-written layout behind a valid stamp
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    scale_up(src, tmp, k, RELAID_BLOCK_BYTES)
    info = table_info(tmp)
    with open(os.path.join(tmp, "_LAYOUT.json"), "w") as f:
        json.dump(info, f, indent=1, sort_keys=True)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    return dest, info, True


# key columns ScaleUp shifts per copy, and the (table, column) whose
# max + 1 is the stride
SHIFTS = {
    "customer": {"c_custkey": ("customer", "c_custkey")},
    "supplier": {"s_suppkey": ("supplier", "s_suppkey")},
    "part": {"p_partkey": ("part", "p_partkey")},
    "orders": {"o_orderkey": ("orders", "o_orderkey"),
               "o_custkey": ("customer", "c_custkey")},
    "lineitem": {"l_orderkey": ("orders", "o_orderkey"),
                 "l_partkey": ("part", "p_partkey"),
                 "l_suppkey": ("supplier", "s_suppkey")},
    "events": {"event_id": ("events", "event_id"), "user_id": ("events", "user_id")},
    "documents": {"doc_id": ("documents", "doc_id")},
    "embeddings": {"vec_id": ("embeddings", "vec_id")},
}


def java_sign_mask(seed, n):
    """±1.0 per component from java.util.Random(seed).nextBoolean()."""
    mult, mask = 0x5DEECE66D, (1 << 48) - 1
    s = (seed ^ mult) & mask
    out = []
    for _ in range(n):
        s = (s * mult + 0xB) & mask
        out.append(1.0 if (s >> 47) != 0 else -1.0)
    return out


def verify_relaid(con, base, relaid, k, fingerprint):
    """Per table: the relaid layout's (count, row-hash sum) equals a DuckDB
    replay of k key-shifted copies of the base layout. Returns the list of
    mismatching tables."""
    def src(d, t):
        p = os.path.join(d, f"{t}.parquet")
        return f"read_parquet('{p}/*.parquet')" if os.path.isdir(p) else f"read_parquet('{p}')"
    bad = []
    st = {}
    for t, c in {ref for cols in SHIFTS.values() for ref in cols.values()}:
        st[(t, c)] = con.execute(f"SELECT max({c}) + 1 FROM {src(base, t)}").fetchone()[0]
    dim = con.execute(f"SELECT max(len(embedding)) FROM {src(base, 'embeddings')}").fetchone()[0]
    for t in TABLES:
        if t not in SHIFTS:
            expect = f"SELECT * FROM {src(base, t)}"
        else:
            cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src(base, t)}").fetchall()]
            parts = []
            for i in range(k):
                exprs = []
                for c in cols:
                    e = f'"{c}"'
                    if c in SHIFTS[t] and i:
                        e = f'"{c}" + {i * st[SHIFTS[t][c]]}'
                    elif i and t == "customer" and c == "c_name":
                        e = f"c_name || '_{i}'"
                    elif i and t == "documents" and c == "text":
                        e = f"regexp_replace(text, '(\\S+)', '\\1_{i}', 'g')"
                    elif i and t == "embeddings" and c == "embedding":
                        m = java_sign_mask(1000 + i, dim)
                        e = (f"list_transform(embedding, (x, j) -> "
                             f"CAST(x * ({m}::FLOAT[])[j] AS FLOAT))")
                    exprs.append(f'{e} AS "{c}"')
                parts.append(f"SELECT {', '.join(exprs)} FROM {src(base, t)}")
            expect = " UNION ALL ".join(parts)
        got = fingerprint(con, f"SELECT * FROM {src(relaid, t)}")
        want = fingerprint(con, expect)
        if got != want:
            bad.append(t)
    return bad
