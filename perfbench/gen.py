"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical parquet. Inputs land under the caller's work directory
(never inside the package or the benchmark's own sources).

- ``fleet``: a namespace of ``data_files``-shaped tables
  (partition_key, file_size_in_bytes, content) with heavy-tailed file
  counts, log-normal sizes and about a quarter delete files.
- ``corpus``: a ``documents.parquet`` with the testdata schema
  (doc_id, text, lang, source, n_chars) carrying planted
  exact-duplicate and near-duplicate families that straddle the two
  md5-bucket release increments.
- ``star``: the TPC-H-like star schema plus ``events`` with the same
  column names, types and value domains as the repository's testdata,
  scaled by ``sf``.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MiB = 1024 * 1024

# Stopword lists of the package's language pick (textops.STOPWORDS):
# a document passes the quality gate's language test when it holds at
# least one of them. Copied, not imported, so the generator and the
# oracle checks do not depend on the code under test.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "est", "dans"],
}
ALL_STOPWORDS = frozenset(w for ws in STOPWORDS.values() for w in ws)


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


# ---------------------------------------------------------------- fleet


def gen_fleet(root: str, seed: int, n_tables: int = 120, n_giant: int = 3) -> dict:
    """Write ``n_tables`` data_files tables under ``root`` and return
    {"tables": [{name, path, files, partitions, manifests}], "stats"}.

    File counts: the small tables' counts are a fixed log-spaced grid
    over 10^2..10^4 in seeded order; the ``n_giant`` tables hold about
    10^6 files each and come last in submission order, so the burst's
    tail is theirs (the first is a single partition, the others have
    200). Small tables' partition counts are a log-spaced grid over
    10^0.5..10^2.5 in seeded order, with a fifth set to 1 (unpartitioned).
    Partition sizes are Zipf-skewed.
    File sizes are log-normal around 4 MiB with sigma 2 (many small
    files, a long large tail); a quarter of the files are deletes
    (content 1 or 2), ten times smaller. The seed moves every detail
    but not the fleet's shape, so runs with different seeds do
    comparable work.
    """
    rng = np.random.default_rng([seed, 1])
    os.makedirs(root, exist_ok=True)
    m = n_tables - n_giant
    grid = np.round(10 ** (2.0 + 2.0 * (np.arange(m) + 0.5) / m)).astype(np.int64)
    counts = np.concatenate([
        rng.permutation(grid),
        np.round(10 ** rng.uniform(5.95, 6.0, n_giant)).astype(np.int64),
    ])
    # partition counts: a log-spaced grid over 10^0.5..10^2.5 paired
    # with the file counts in seeded order, a fifth set to 1
    parts = rng.permutation(np.round(10 ** (0.5 + 2.0 * (np.arange(m) + 0.5) / m)))
    parts[rng.choice(m, round(0.2 * m), replace=False)] = 1
    parts = np.concatenate([parts, ([1] + [200] * n_giant)[:n_giant]])
    tables = []
    deletes = 0
    for i, n in enumerate(counts.tolist()):
        n_parts = int(min(n, parts[i]))
        weights = 1.0 / (np.arange(n_parts) + 1.0) ** 0.8
        codes = rng.choice(n_parts, size=n, p=weights / weights.sum())
        labels = pa.array([f"dt=2024-{k // 28 + 1:02d}-{k % 28 + 1:02d}/b={k}" for k in range(n_parts)])
        u = rng.random(n)
        content = np.where(u < 0.18, 1, np.where(u < 0.25, 2, 0)).astype(np.int32)
        deletes += int((content != 0).sum())
        sizes = rng.lognormal(np.log(4 * MiB), 2.0, n)
        sizes = np.where(content == 0, sizes, sizes / 10.0)
        sizes = np.clip(sizes, 512, 2048 * MiB).astype(np.int64)
        name = f"t{i:03d}"
        path = os.path.join(root, f"{name}.parquet")
        _write(
            pa.table({
                "partition_key": labels.take(pa.array(codes)),
                "file_size_in_bytes": pa.array(sizes),
                "content": pa.array(content),
            }),
            path,
        )
        tables.append({
            "name": name,
            "path": path,
            "files": n,
            "partitions": int(np.unique(codes).size),
            "manifests": int(rng.integers(1, 64)),
        })
    total = sum(t["files"] for t in tables)
    stats = {
        "tables": n_tables,
        "files": total,
        "share_files_in_tables_ge_1e5": round(
            sum(t["files"] for t in tables if t["files"] >= 100_000) / total, 4
        ),
        "share_single_partition_tables": round(
            sum(t["partitions"] == 1 for t in tables) / n_tables, 4
        ),
        "delete_file_share": round(deletes / total, 4),
    }
    return {"tables": tables, "stats": stats}


# --------------------------------------------------------------- corpus


def md5_bucket(doc_id: int, buckets: int = 2) -> int:
    """The package's hash_bucket: first 8 md5 hex digits of the id's
    string form, mod ``buckets`` — the release increment of a doc."""
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % buckets


def normalize(text: str) -> str:
    return re.sub(r"\s+", " ", text.strip().lower())


def passes_quality_gate(text: str) -> bool:
    """The funnel's stage-1 gate, re-derived from its definition:
    type-token ratio >= 0.4, alpha ratio >= 0.6, some stopword."""
    toks = normalize(text).split(" ")
    ttr = len(set(toks)) / max(len(toks), 1)
    alpha = len(re.sub(r"[^a-z]", "", text.lower())) / max(len(text), 1)
    return ttr >= 0.4 and alpha >= 0.6 and not ALL_STOPWORDS.isdisjoint(toks)


def _vocab(rng, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, k)))
    return sorted(words)


def gen_corpus(path: str, seed: int, n_docs: int, tokens: tuple[int, int] = (20, 121)) -> dict:
    """Write ``documents.parquet`` at ``path`` and return {"docs":
    [(doc_id, text)], "families": [[doc_id, ...]], "stats"}.

    Base documents draw ``tokens`` (default 20-120) tokens from a Zipf-weighted 6000-word
    vocabulary with about one stopword in seven. 5% of base documents
    are low-quality (a few tokens repeated, or symbol soup) so the
    quality gate drops something. Planted families: about 4% of base
    documents get 1-3 exact copies (re-cased, re-spaced: equal after
    normalization) and about 4% get 1-2 near copies (one token
    substituted). Family member ids are drawn so that about 60% of
    families span both md5 release increments.
    """
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 6000)
    ranks = np.arange(len(vocab))
    zipf = 1.0 / (ranks + 20.0)
    zipf /= zipf.sum()
    stop = sorted(ALL_STOPWORDS)

    def base_text() -> str:
        n = int(rng.integers(*tokens))
        toks = [vocab[j] for j in rng.choice(len(vocab), n, p=zipf)]
        for j in np.flatnonzero(rng.random(n) < 0.14):
            toks[j] = stop[int(rng.integers(len(stop)))]
        return " ".join(toks)

    def junk_text() -> str:
        if rng.random() < 0.5:
            few = [vocab[j] for j in rng.integers(0, 50, 3)]
            return " ".join(few[int(rng.integers(3))] for _ in range(40)) + " the"
        return " ".join(f"#{int(rng.integers(10**6))}%&" for _ in range(30)) + " the"

    # family plan first, so the id draw can steer straddling
    texts: list[str] = []
    families: list[list[int]] = []  # indices into texts
    kinds: list[str] = []
    while len(texts) < n_docs:
        t = junk_text() if rng.random() < 0.05 else base_text()
        fam = [len(texts)]
        texts.append(t)
        u = rng.random()
        if u < 0.04:
            for _ in range(int(rng.integers(1, 4))):
                v = t.upper() if rng.random() < 0.5 else "  " + t.replace(" ", "   ")
                fam.append(len(texts))
                texts.append(v)
            kinds.append("exact")
        elif u < 0.08:
            toks = t.split(" ")
            for _ in range(int(rng.integers(1, 3))):
                w = list(toks)
                w[int(rng.integers(len(w)))] = vocab[int(rng.integers(len(vocab)))]
                fam.append(len(texts))
                texts.append(" ".join(w))
            kinds.append("near")
        else:
            kinds.append("single")
        families.append(fam)
    texts = texts[:n_docs]

    ids = rng.permutation(n_docs).astype(np.int64) + 1000
    pools = {0: [], 1: []}
    for d in ids.tolist():
        pools[md5_bucket(d)].append(d)
    doc_ids = [0] * n_docs
    fam_ids: list[list[int]] = []
    for fam, kind in zip(families, kinds):
        fam = [i for i in fam if i < n_docs]
        if not fam:
            continue
        straddle = kind != "single" and len(fam) > 1 and rng.random() < 0.6
        first = int(rng.integers(2))
        out = []
        for k, i in enumerate(fam):
            b = (first if k == 0 else 1 - first) if straddle else first
            if not pools[b]:
                b = 1 - b
            d = pools[b].pop()
            doc_ids[i] = d
            out.append(d)
        if kind != "single":
            fam_ids.append(out)

    langs = np.array(["en", "fr", "de", "es", "zh"])[rng.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    sources = [f"src{k}" for k in rng.integers(0, 20, n_docs)]
    size = _write(
        pa.table({
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(langs.tolist()),
            "source": pa.array(sources),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        path,
    )
    in_fam = {d for f in fam_ids for d in f}
    exact_fams = [f for f, k in zip(fam_ids, [k for k in kinds if k != "single"]) if k == "exact"]
    n_exact = sum(len(f) for f in exact_fams)
    stats = {
        "docs": n_docs,
        "bytes": size,
        "share_docs_in_exact_dup_families": round(n_exact / n_docs, 4),
        "share_docs_in_near_dup_families": round((len(in_fam) - n_exact) / n_docs, 4),
        "mean_tokens_per_doc": round(
            sum(len(normalize(t).split(" ")) for t in texts) / n_docs, 2
        ),
        "share_families_straddling": round(
            sum(len({md5_bucket(d) for d in f}) == 2 for f in fam_ids) / max(len(fam_ids), 1), 4
        ),
    }
    return {"docs": list(zip(doc_ids, texts)), "families": fam_ids, "stats": stats}


# ----------------------------------------------------------------- star

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = a + rng.integers(0, int((b - a).astype(int)) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def gen_star(root: str, seed: int, sf: float) -> dict:
    """Write region, nation, customer, supplier, part, orders,
    lineitem and events parquet under ``root`` (the testdata layout
    ``<root>/<table>.parquet``) and return row counts and bytes."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(root, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    out = {}
    i32 = pa.int32()
    tabs = {
        "region": pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)].tolist()),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)].tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)].tolist(),
            "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)].tolist(),
        }),
    }
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tabs["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _cents(rng, 900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)].tolist(),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    tabs["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(t0 + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": np.array(_EVENTS)[rng.integers(0, 5, n_ev)].tolist(),
        "value": _cents(rng, 0.0, 560.0, n_ev),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    for name, t in tabs.items():
        out[name] = {"rows": t.num_rows, "bytes": _write(t, os.path.join(root, f"{name}.parquet"))}
    return out
