"""Seeded input generator for the benchmark workloads.

Every input is synthesized from ``--seed`` with numpy's PCG64, so the same
seed always yields byte-identical parquet and text files, and nothing is
read from outside the checkout. The seed changes content only: row counts,
document lengths, the number of planted near-duplicates and the hot-user
share are fixed per workload, so runs on different seeds do the same amount
of work.

Tables follow the fixture schemas in FIXTURES.md (group B). The documents
and embeddings are a small base corpus replicated ``replicas`` times the
way ``tools/make_scale_corpus.py`` does it: each replica gets a token
prefix (documents) or a sign pattern (embeddings), both drawn from the
seed, so the near-duplicate structure inside a replica repeats 1:1 while
replicas stay disjoint. Events carry one hot user, drawn from the seed,
holding 60% of the rows.

Results are cached per (workload, seed, generator source) under the work
directory; ``manifest.json`` is written last and records row and byte
counts for every file.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = (("en", 0.40), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.15))
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("small", "red", "blue", "green", "large", "shiny", "old", "tiny")
PART_NOUN = ("ring", "widget", "bolt", "gear", "valve", "panel", "spring")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMBED_DIM = 64
HOT_SHARE = 60  # percent of events owned by the hot user

# Per-workload sizes. ``docs``/``vecs`` are the base corpus, multiplied by
# ``replicas``; the TPC-H-shaped tables and events follow the sf0.01
# fixture; ``text_bytes`` is the word-count input of the job workload.
SIZES: dict[str, dict] = {
    "dedup_text": {"docs": 500, "vecs": 500, "replicas": 2},
    "jobservice_closed_loop": {
        "docs": 500,
        "vecs": 0,
        "replicas": 1,
        "customer": 1500,
        "supplier": 100,
        "part": 2000,
        "orders": 15000,
        "lineitem": 60000,
        "events": 10000,
        "text_files": 2,
        "text_bytes": 128 * 1024,
        "zipf_vocab": 5000,
    },
}


def _source_digest() -> str:
    with open(os.path.abspath(__file__), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def _permuted_counts(rng, n: int, weights) -> np.ndarray:
    """Category indices with FIXED per-category counts, in seeded order."""
    counts = [int(round(n * w)) for w in weights]
    counts[0] += n - sum(counts)
    idx = np.repeat(np.arange(len(counts)), counts)
    return rng.permutation(idx)


def _write(table: pa.Table, path: str) -> dict:
    pq.write_table(table, path)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def _documents(rng, n: int, replicas: int) -> pa.Table:
    # lengths are a fixed multiset (10..100 tokens) in seeded order, so the
    # total token count never depends on the seed
    lengths = rng.permutation(np.linspace(10, 100, n).round().astype(int))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    toks = rng.integers(0, len(WORDS), size=int(bounds[-1]))
    texts = [
        " ".join(WORDS[t] for t in toks[bounds[i] : bounds[i + 1]]) for i in range(n)
    ]
    # planted duplicates: 5% near-dups (a copy plus one trailing "dup"
    # token) and 0.4% exact copies, each copying an earlier original
    n_near, n_exact = n // 20, max(1, n // 250)
    slots = rng.choice(np.arange(n // 10, n), size=n_near + n_exact, replace=False)
    copies = set(int(s) for s in slots)
    for k, slot in enumerate(slots):
        src = int(rng.integers(0, slot))
        while src in copies:
            src = int(rng.integers(0, slot))
        texts[slot] = texts[src] + (" dup" if k < n_near else "")
    langs = [LANGS[i][0] for i in _permuted_counts(rng, n, [w for _, w in LANGS])]
    tags = [f"r{r}{rng.integers(0, 16**4):04x}" for r in range(replicas)]
    out = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for r in range(replicas):
        for i in range(n):
            t = texts[i] if r == 0 else " ".join(f"{tags[r]}:{w}" for w in texts[i].split())
            out["doc_id"].append(r * n + i)
            out["text"].append(t)
            out["lang"].append(langs[i])
            out["source"].append(f"src{i % 20}")
            out["n_chars"].append(len(t))
    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    )
    return pa.table(out, schema=schema)


def _embeddings(rng, n: int, replicas: int) -> pa.Table:
    x = rng.standard_normal((n, EMBED_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    # 2% planted near-duplicates (cosine ~0.997 to an earlier vector)
    slots = rng.choice(np.arange(n // 10, n), size=n // 50, replace=False)
    for slot in slots:
        v = x[int(rng.integers(0, slot))] + 0.01 * rng.standard_normal(EMBED_DIM)
        x[slot] = v / np.linalg.norm(v)
    base = x.astype(np.float32)
    labels = _permuted_counts(rng, n, [0.1] * 10).astype(np.int32)
    vecs, ids, labs = [], [], []
    for r in range(replicas):
        # sign flips only: exact in float32 and keep every intra-replica
        # cosine bit-identical (see tools/make_scale_corpus.py)
        signs = np.ones(EMBED_DIM, np.float32) if r == 0 else rng.choice(
            np.array([-1.0, 1.0], np.float32), EMBED_DIM
        )
        vecs.append(base * signs)
        ids.append(np.arange(n, dtype=np.int64) + r * n)
        labs.append(labels)
    flat = np.concatenate(vecs).reshape(-1)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(flat, pa.float32()), EMBED_DIM)
    return pa.table(
        {
            "vec_id": pa.array(np.concatenate(ids)),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(np.concatenate(labs)),
        }
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + days, pa.timestamp("us"))


def _events(rng, n: int) -> pa.Table:
    span_us = 30 * 86400 * 10**6
    gaps = rng.exponential(span_us / n, n).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    n_users = max(150, n // 66)
    users = rng.integers(0, n_users, n)
    # one hot user holds HOT_SHARE% of events (event_id % 100 < HOT_SHARE,
    # the hot-key fixture bench.py builds); the seed picks who
    ev_id = np.arange(n, dtype=np.int64)
    users = np.where(ev_id % 100 < HOT_SHARE, int(rng.integers(0, n_users)), users)
    return pa.table(
        {
            "event_id": pa.array(ev_id),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users.astype(np.int64)),
            "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _tpch(rng, s: dict) -> dict[str, pa.Table]:
    i32, i64 = pa.int32(), pa.int64()
    nc, ns, np_, no, nl = (s[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    pick = lambda vals, n: [vals[i] for i in rng.integers(0, len(vals), n)]  # noqa: E731
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(nc), i64),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                "c_mktsegment": pick(SEGMENTS, nc),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns), i64),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, ns),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(np_), i64),
                "p_name": [f"{a} {b}" for a, b in zip(pick(PART_ADJ, np_), pick(PART_NOUN, np_))],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
                "p_type": pick(PART_TYPES, np_),
                "p_size": pa.array(rng.integers(1, 51, np_), i32),
                "p_retailprice": np.round(900 + (np.arange(np_) % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(no), i64),
                "o_custkey": pa.array(rng.integers(0, nc, no), i64),
                "o_orderstatus": pick(("F", "O", "P"), no),
                "o_totalprice": _money(rng, 1000.0, 500000.0, no),
                "o_orderdate": _days(rng, "1995-01-01", 2405, no),
                "o_orderpriority": pick(PRIORITIES, no),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
                "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
                "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
                "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
                "l_discount": rng.integers(0, 11, nl) / 100.0,
                "l_tax": rng.integers(0, 9, nl) / 100.0,
                "l_returnflag": pick(("A", "N", "R"), nl),
                "l_linestatus": pick(("F", "O"), nl),
                "l_shipdate": _days(rng, "1995-01-02", 2499, nl),
            }
        ),
    }


def _zipf_vocab(rng, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen: dict[str, None] = {}
    while len(seen) < n:
        seen.setdefault("".join(letters[rng.integers(0, 26, rng.integers(3, 11))]))
    return list(seen)


def _text_files(rng, dest: str, n_files: int, n_bytes: int, vocab_n: int) -> list[dict]:
    """Zipf(1.1)-distributed words, 12 per line. One token in 100 carries
    trailing punctuation, so the mapper's alphanumeric filter has work."""
    vocab = _zipf_vocab(rng, vocab_n)
    p = 1.0 / np.arange(1, vocab_n + 1) ** 1.1
    p /= p.sum()
    out = []
    for f in range(n_files):
        path = os.path.join(dest, f"words_{f}.txt")
        lines, size = [], 0
        while size < n_bytes:
            words = [vocab[i] for i in rng.choice(vocab_n, 12, p=p)]
            if rng.integers(0, 100) < 12:
                j = int(rng.integers(0, 12))
                words[j] += ","
            line = " ".join(words)
            lines.append(line)
            size += len(line) + 1
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        out.append({"path": path, "rows": len(lines), "bytes": os.path.getsize(path)})
    return out


def generate(dest: str, workload: str, seed: int) -> dict:
    """Write every input of ``workload`` for ``seed`` into ``dest`` and
    return the manifest (without caching; see ``build``)."""
    s = SIZES[workload]
    rng = np.random.default_rng(seed)
    sf_dir = os.path.join(dest, "tables")
    os.makedirs(sf_dir, exist_ok=True)
    files: dict[str, dict] = {}
    tables = {"documents": _documents(rng, s["docs"], s["replicas"])}
    if s["vecs"]:
        tables["embeddings"] = _embeddings(rng, s["vecs"], s["replicas"])
    if "orders" in s:
        tables.update(_tpch(rng, s))
        tables["events"] = _events(rng, s["events"])
    for name, tbl in tables.items():
        files[name] = _write(tbl, os.path.join(sf_dir, f"{name}.parquet"))
    text = []
    if s.get("text_files"):
        text_dir = os.path.join(dest, "text")
        os.makedirs(text_dir, exist_ok=True)
        text = _text_files(rng, text_dir, s["text_files"], s["text_bytes"], s["zipf_vocab"])
    return {
        "workload": workload,
        "seed": seed,
        "generator": _source_digest(),
        "sf_dir": sf_dir,
        "tables": files,
        "text_files": text,
    }


def build(work_dir: str, workload: str, seed: int) -> dict:
    """Cached ``generate``: reuse ``<work_dir>/inputs/<key>`` when its
    manifest exists, else regenerate it from scratch."""
    key = f"{workload}-s{seed}-{_source_digest()}"
    dest = os.path.join(work_dir, "inputs", key)
    manifest_path = os.path.join(dest, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    manifest = generate(dest, workload, seed)
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, manifest_path)
    return manifest
