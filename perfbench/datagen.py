"""Seeded input generators for the benchmark workloads.

Everything the programs under test read is made here from the run's
``--seed``: the same seed writes byte-identical tables and trees.
Nothing is read from outside the checkout.

* ``write_star_schema`` — the TPC-H-like star schema plus the
  ``events`` / ``documents`` / ``embeddings`` tables, one parquet file
  per table, with the column names and types the repo's catalog
  expects.  Row counts follow TPC-H's per-scale-factor cardinalities
  (``documents``: 25 000 per unit of scale).
* ``MsTree`` — a watch tree of plates / ``*.d`` runs / binary files for
  the watch-convert pipeline, plus a model of what every cycle must
  report (the expected ``verify`` stats).
* ``corpus_documents`` — a document feed for the curation workload,
  with planted near-duplicates and low-quality (repetitive) documents.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_ADJ = ["small", "red", "blue", "green", "large", "steel", "brass", "tin"]
_NOUN = ["ring", "widget", "bolt", "gear", "valve", "panel", "spring", "cog"]
_SYL = ["ka", "lo", "mi", "re", "su", "ta", "ve", "no", "pi", "da", "go", "ze"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _vocab(n: int) -> list[str]:
    """``n`` distinct pseudo-words built from syllables (stable)."""
    words, k = [], 0
    while len(words) < n:
        w, x = "", k
        for _ in range(2 + k % 3):
            w += _SYL[x % len(_SYL)]
            x //= len(_SYL)
        if w not in words:
            words.append(w)
        k += 7
    return words


def _texts(rng: np.random.Generator, n: int, vocab: list[str]) -> list[str]:
    lens = rng.integers(8, 80, n)
    idx = rng.integers(0, len(vocab), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(vocab[i] for i in idx[pos:pos + ln]))
        pos += ln
    return out


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def star_schema_rows(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf``."""
    return {
        "customer": max(30, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(40, int(200_000 * sf)),
        "orders": max(300, int(1_500_000 * sf)),
        "events": max(200, int(1_000_000 * sf)),
        "documents": max(100, int(25_000 * sf)),
        "embeddings": max(100, int(20_000 * sf)),
    }


def write_star_schema(out_dir: str, sf: float, seed: int) -> None:
    """Write every catalog table at scale ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    n = star_schema_rows(sf)
    r = _rng(seed, 1)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc, ns, np_ = n["customer"], n["supplier"], n["part"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": r.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, nc)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": r.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, ns), 2),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(r.integers(0, 8, np_), r.integers(0, 8, np_))
        ],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, np_)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, np_)],
        "p_size": r.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) / 10, 1),
    })
    no = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": r.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, no)],
        "o_totalprice": np.round(r.uniform(1000, 500_000, no), 2),
        "o_orderdate": _EPOCH_1995 + r.integers(0, 2404, no) * _DAY_US,
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, no)],
    })
    per_order = r.integers(1, 8, no)
    nl = int(per_order.sum())
    lineno = np.arange(nl) - np.repeat(np.cumsum(per_order) - per_order, per_order)
    _write(out_dir, "lineitem", {
        "l_orderkey": np.repeat(np.arange(no, dtype=np.int64), per_order),
        "l_partkey": r.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": r.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": (lineno + 1).astype(np.int32),
        "l_quantity": r.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900, 105_000, nl), 2),
        "l_discount": r.integers(0, 11, nl) / 100,
        "l_tax": r.integers(0, 9, nl) / 100,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, nl)],
        "l_shipdate": _EPOCH_1995 + r.integers(1, 2499, nl) * _DAY_US,
    })
    ne = n["events"]
    _write(out_dir, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _EPOCH_2024 + np.sort(r.integers(0, 30 * _DAY_US, ne)),
        "user_id": r.integers(0, max(10, ne // 66), ne).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, ne)],
        "value": np.round(r.exponential(60.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)],
    })
    docs = corpus_documents(n["documents"], seed)
    _write(out_dir, "documents", docs)
    nv = n["embeddings"]
    labels = r.integers(0, 10, nv)
    centers = r.normal(0, 1, (10, 64))
    vecs = centers[labels] + r.normal(0, 0.8, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def corpus_documents(n_docs: int, seed: int) -> dict:
    """A document feed: mostly distinct prose over a 2000-word
    vocabulary, ~6 % near-duplicates of an earlier document (one word
    changed) and ~4 % repetitive low-quality documents."""
    r = _rng(seed, 2)
    vocab = _vocab(2000)
    texts = _texts(r, n_docs, vocab)
    kind = r.random(n_docs)
    for i in range(1, n_docs):
        if kind[i] < 0.06:
            words = texts[int(r.integers(0, i))].split()
            words[int(r.integers(0, len(words)))] = vocab[int(r.integers(0, 2000))]
            texts[i] = " ".join(words)
        elif kind[i] < 0.10:
            texts[i] = " ".join([vocab[int(r.integers(0, 2000))]] * 30)
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in r.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i}" for i in r.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


@dataclass
class Run:
    plate: str
    base: str
    n_bytes: int
    md5: str
    mtime_s: int
    corrupt: bool
    attempts: int = 0
    ok: bool = False


@dataclass
class MsTree:
    """Watch tree ``root/<plate>/<base>.d/<files>`` on a logical clock.

    Cycle ``k`` runs at ``now_s(k) = T0 + k * interval_s``.  A run
    written for cycle ``k`` is either quiet (mtime a day old) or
    *fresh* (mtime ``quiet_s / 2`` before ``now_s(k)``): the quiet
    filter must defer a fresh run by exactly one cycle.  A *corrupt*
    run's first file starts with ``CORRUPT``: it fails every attempt
    and must leave discovery after ``max_attempts``.  ``expect`` plays
    the pipeline's rules forward and returns the stats a cycle must
    report.
    """

    root: str
    seed: int
    quiet_s: int = 60
    interval_s: int = 300
    max_attempts: int = 3
    n_plates: int = 12
    t0_s: int = 1_700_000_000
    runs: list[Run] = field(default_factory=list)

    def now_s(self, cycle: int) -> int:
        return self.t0_s + cycle * self.interval_s

    def add_runs(self, cycle: int, n: int, n_corrupt: int, n_fresh: int) -> int:
        """Write ``n`` new runs before ``cycle``; returns bytes written.
        The first ``n_corrupt`` are corrupt, the last ``n_fresh`` fresh."""
        r = _rng(self.seed, 1000 + cycle)
        written = 0
        for i in range(n):
            k = len(self.runs)
            plate = f"plate_{k % self.n_plates:02d}"
            base = f"run{k:05d}"
            corrupt = i < n_corrupt
            fresh = i >= n - n_fresh
            mtime = self.now_s(cycle) - (self.quiet_s // 2 if fresh else 86_400)
            d = os.path.join(self.root, plate, base + ".d")
            os.makedirs(d)
            h, n_bytes = hashlib.md5(), 0
            for j in range(int(r.integers(2, 5))):
                data = r.bytes(int(r.integers(512, 6144)))
                if corrupt and j == 0:
                    data = b"CORRUPT" + data
                path = os.path.join(d, f"scan{j:02d}.bin")
                with open(path, "wb") as f:
                    f.write(data)
                os.utime(path, (mtime, mtime))
                h.update(data)
                n_bytes += len(data)
            self.runs.append(
                Run(plate, base, n_bytes, h.hexdigest(), mtime, corrupt)
            )
            written += n_bytes
        return written

    def expect(self, cycle: int) -> dict:
        """Advance the model by one cycle; the stats it must report."""
        cutoff = self.now_s(cycle) - self.quiet_s
        batch = [
            r for r in self.runs
            if not r.ok and r.attempts < self.max_attempts
            and r.mtime_s <= cutoff
        ]
        for r in batch:
            r.attempts += 1
            r.ok = not r.corrupt
        failed = sum(r.corrupt for r in batch)
        return {
            "total": len(batch),
            "failed": failed,
            "skipped": 0,
            "succeeded": len(batch) - failed,
            "archived": len(batch) - failed,
        }
