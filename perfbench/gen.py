"""Seeded input generators for the benchmark workloads.

Everything here is plain NumPy/pyarrow: the engine under test only ever
sees the parquet files these functions write. The same seed always gives
the same files (and the same ground truth).

Tables are written as directories of several parquet files, each with
several row groups, so a scan splits into as many tasks as the cluster
has cores instead of one straggler task per table.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the TPC-H-shaped star schema at sf0.1 (the scale the
#: engine's query registry is tuned and verified at).
SF01_ROWS = {
    "region": 5,
    "nation": 25,
    "supplier": 1_000,
    "customer": 15_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["big", "blue", "cold", "hot", "large", "old", "red", "small"]
PART_NOUN = ["bolt", "gear", "nut", "pipe", "plate", "ring", "screw", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_US_PER_DAY = 86_400_000_000
ROW_GROUPS = 4


def write_table(table: pa.Table, path: str, files: int = 4) -> None:
    """Write ``table`` as ``path/part-NNNNN.parquet``: ``files`` files of
    ``ROW_GROUPS`` row groups each (fewer for tiny tables)."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    files = max(1, min(files, n // 1000))
    per_file = -(-n // files)
    for i in range(files):
        chunk = table.slice(i * per_file, per_file)
        rg = max(1, -(-chunk.num_rows // ROW_GROUPS))
        pq.write_table(chunk, os.path.join(path, f"part-{i:05d}.parquet"), row_group_size=rg)


def _timestamps(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _dates(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * _US_PER_DAY


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def warehouse_tables(seed: int, rows: dict[str, int] | None = None) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema plus the events table, with every foreign
    key pointing at an existing row. Column names, types and value
    domains follow the engine's sf0.1 test tables."""
    rows = dict(SF01_ROWS if rows is None else rows)
    rng = np.random.default_rng([seed, 1])
    n_sup, n_cust, n_part = rows["supplier"], rows["customer"], rows["part"]
    n_ord, n_li, n_ev = rows["orders"], rows["lineitem"], rows["events"]
    i32 = pa.int32()

    region = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_sup, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_sup), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_sup),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    part = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    o_date = _dates(rng, "1995-01-01", "2001-08-01", n_ord)
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _timestamps(o_date),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    # 1..7 lines per order (TPC-H), trimmed or topped up to the exact count
    per_order = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), per_order)[:n_li]
    if len(l_order) < n_li:
        l_order = np.concatenate([l_order, rng.integers(0, n_ord, n_li - len(l_order))])
    l_order = np.sort(l_order)
    starts = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    run_len = np.diff(np.r_[starts, n_li])
    l_line = np.arange(n_li) - np.repeat(starts, run_len) + 1
    lineitem = pa.table({
        "l_orderkey": l_order.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_sup, n_li),
        "l_linenumber": pa.array(l_line, i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _timestamps(o_date[l_order] + rng.integers(1, 122, n_li) * _US_PER_DAY),
    })
    ev_start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ev_ts = np.sort(ev_start + rng.integers(0, 30 * _US_PER_DAY, n_ev))
    events = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _timestamps(ev_ts),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.array([f'{{"k": {k}}}' for k in range(100)])[rng.integers(0, 100, n_ev)],
    })
    return {
        "region": region, "nation": nation, "supplier": supplier,
        "customer": customer, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events,
    }


def write_warehouse(seed: int, out_dir: str, rows: dict[str, int] | None = None) -> None:
    for name, t in warehouse_tables(seed, rows).items():
        write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Text corpus with planted duplicates
# ---------------------------------------------------------------------------

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"]
EMBED_DIM = 64
#: Token substitution rates of the planted near duplicates (3-gram
#: Jaccard to the original ~0.94 and ~0.84 — both above the engine's 0.7
#: MinHash threshold).
NEAR_EDIT_RATES = (0.01, 0.03)
#: Standard deviation of the perturbation applied to a near duplicate's
#: unit embedding (cosine to the original ~0.99).
NEAR_VEC_NOISE = 0.1
N_TOPICS = 24
VOCAB_PER_TOPIC = 400


@dataclass
class Corpus:
    """Documents plus embeddings plus the planted-duplicate ground truth.
    ``planted`` maps each duplicate doc id to (original id, kind) with
    kind in {"exact", "near"}; every original has at most one planted
    duplicate, so a pair is a planted duplicate iff it appears here."""

    ids: np.ndarray
    texts: list[str]
    langs: list[str]
    vecs: np.ndarray
    planted: dict[int, tuple[int, str]] = field(default_factory=dict)

    def docs_table(self) -> pa.Table:
        return pa.table({
            "doc_id": self.ids.astype(np.int64),
            "text": self.texts,
            "lang": self.langs,
        })

    def embeddings_table(self) -> pa.Table:
        flat = pa.array(self.vecs.astype(np.float32).ravel(), pa.float32())
        return pa.table({
            "vec_id": self.ids.astype(np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(flat, EMBED_DIM).cast(pa.list_(pa.float32())),
        })


class CorpusGenerator:
    """Topic-structured synthetic corpus: every topic draws content words
    Zipf-distributed from its own vocabulary, mixed with shared stopwords;
    a fifth of the documents are CJK. Embeddings are the document topic's
    centroid plus noise, so unrelated documents of one topic sit at cosine
    ~0.5 while planted near duplicates sit at ~0.99."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 2])
        rng = self.rng
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        cjk = np.array([chr(c) for c in range(0x4E00, 0x4E00 + 3000)])

        def words(alphabet, lo, hi, n):
            out = set()
            while len(out) < n:
                k = int(rng.integers(lo, hi))
                out.add("".join(rng.choice(alphabet, k)))
            return sorted(out)

        self.latin = words(letters, 3, 10, N_TOPICS * VOCAB_PER_TOPIC)
        self.cjk = words(cjk, 1, 4, N_TOPICS * VOCAB_PER_TOPIC)
        zipf = 1.0 / np.arange(1, VOCAB_PER_TOPIC + 1)
        self.zipf = zipf / zipf.sum()
        cents = rng.normal(size=(N_TOPICS, EMBED_DIM))
        self.centroids = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        self.next_id = 0

    def _doc(self) -> tuple[str, str, np.ndarray]:
        rng = self.rng
        topic = int(rng.integers(0, N_TOPICS))
        zh = rng.random() < 0.2
        vocab = self.cjk if zh else self.latin
        n_tok = int(rng.integers(40, 161))
        base = topic * VOCAB_PER_TOPIC
        content = rng.choice(VOCAB_PER_TOPIC, n_tok, p=self.zipf)
        toks = [vocab[base + int(i)] for i in content]
        if not zh:
            stop = rng.random(n_tok) < 0.25
            picks = rng.integers(0, len(STOPWORDS), n_tok)
            toks = [STOPWORDS[p] if s else t for t, s, p in zip(toks, stop, picks)]
        vec = self.centroids[topic] + rng.normal(size=EMBED_DIM) / np.sqrt(EMBED_DIM)
        return " ".join(toks), ("zh" if zh else "en"), vec / np.linalg.norm(vec)

    def _exact_copy(self, text: str) -> str:
        """Same text up to case and whitespace (the fingerprint
        normalisation), so exact dedup must still catch it."""
        toks = text.split(" ")
        i = int(self.rng.integers(0, len(toks)))
        toks[i] = toks[i].upper()
        return "  ".join(toks[:2]) + " " + " ".join(toks[2:])

    def _near_copy(self, text: str, rate: float) -> str:
        rng = self.rng
        toks = text.split(" ")
        n_edit = max(1, int(round(rate * len(toks))))
        for i in rng.choice(len(toks), n_edit, replace=False):
            toks[int(i)] = self.latin[int(rng.integers(0, len(self.latin)))]
        return " ".join(toks)

    def _near_vec(self, vec: np.ndarray) -> np.ndarray:
        v = vec + self.rng.normal(size=EMBED_DIM) * NEAR_VEC_NOISE / np.sqrt(EMBED_DIM)
        return v / np.linalg.norm(v)

    def corpus(self, n_docs: int, dup_frac: float, prior: Corpus | None = None) -> Corpus:
        """``n_docs`` documents, of which ``dup_frac`` are planted
        duplicates (half exact, half near, split over the edit rates).
        Originals are drawn from ``prior`` when given (a refresh shard
        duplicating the indexed corpus), else from this batch's fresh
        documents. Ids continue from the previous call."""
        n_dup = int(round(n_docs * dup_frac))
        n_fresh = n_docs - n_dup
        fresh = [self._doc() for _ in range(n_fresh)]
        ids = np.arange(self.next_id, self.next_id + n_docs)
        self.next_id += n_docs
        # fresh docs first, duplicates after: a duplicate's id is always
        # greater than its original's, as in an arriving stream
        texts = [d[0] for d in fresh]
        langs = [d[1] for d in fresh]
        vecs = [d[2] for d in fresh]
        if prior is not None:
            pool_ids, pool_texts, pool_langs, pool_vecs = prior.ids, prior.texts, prior.langs, prior.vecs
        else:
            pool_ids, pool_texts, pool_langs, pool_vecs = ids[:n_fresh], texts, langs, np.array(vecs)
        taken = set(prior.planted) | {o for o, _ in prior.planted.values()} if prior else set()
        candidates = [i for i, d in enumerate(pool_ids) if int(d) not in taken]
        origins = self.rng.choice(candidates, n_dup, replace=False)
        planted = {}
        for k, src in enumerate(origins):
            src = int(src)
            dup_id = int(ids[n_fresh + k])
            if k % 2 == 0:
                texts.append(self._exact_copy(pool_texts[src]))
                vecs.append(pool_vecs[src])
                kind = "exact"
            else:
                rate = NEAR_EDIT_RATES[(k // 2) % len(NEAR_EDIT_RATES)]
                texts.append(self._near_copy(pool_texts[src], rate))
                vecs.append(self._near_vec(pool_vecs[src]))
                kind = "near"
            langs.append(pool_langs[src])
            planted[dup_id] = (int(pool_ids[src]), kind)
        return Corpus(ids, texts, langs, np.array(vecs), planted)


def concat(a: Corpus, b: Corpus) -> Corpus:
    """The documents of ``a`` followed by those of ``b``."""
    return Corpus(
        np.concatenate([a.ids, b.ids]), a.texts + b.texts, a.langs + b.langs,
        np.concatenate([a.vecs, b.vecs]), {**a.planted, **b.planted},
    )


def write_corpus(c: Corpus, out_dir: str, files: int = 4) -> None:
    write_table(c.docs_table(), os.path.join(out_dir, "documents.parquet"), files=files)
    write_table(c.embeddings_table(), os.path.join(out_dir, "embeddings.parquet"), files=files)
