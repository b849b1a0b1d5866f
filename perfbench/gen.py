"""Seeded input generator for the benchmark workloads.

Every input the engine sees is made here from the workload seed, in the
shape of the engine's synthetic star schema and its LLM-data tables
(orders/customer/nation/region, documents, embeddings), so the same seed
always yields byte-identical parquet files. Nothing is read from outside
the benchmark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
N_NATIONS = 25
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
STATUSES = ("F", "O", "P")
FIRST_DAY = np.datetime64("1995-01-01")
N_DAYS = 2400  # 1995-01-01 .. mid 2001, as in the star schema's orders

# marker stopwords per language (operators.text.LANG_MARKERS), so the
# corpus build's language gate sees a realistic language mix
LANG_WORDS = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "que", "es"),
    "fr": ("le", "la", "les", "et", "est"),
}
LANGS = ("en", "en", "en", "de", "es", "fr")
N_SOURCES = 5
VEC_DIM = 64
N_CLUSTERS = 12
# The workload's shape (cluster centres, vocabulary) is fixed; the seed draws
# the samples from it, so runs with different seeds measure the same
# workload on different inputs.
SHAPE_SEED = 20260101


def zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def write(table: pa.Table, path: str) -> int:
    """Write one parquet file and return its size in bytes."""
    pq.write_table(table, path)
    return os.path.getsize(path)


# --------------------------------------------------------------------------
# awards star schema
# --------------------------------------------------------------------------


def orders_table(
    rng: np.random.Generator, first_key: int, n: int, n_customers: int
) -> pa.Table:
    """``n`` orders (the awards fact) keyed from ``first_key``. Customers
    are Zipf-skewed, so a few recipients carry most awards."""
    cust = rng.choice(n_customers, size=n, p=zipf_weights(n_customers, 0.8))
    days = rng.integers(0, N_DAYS, n).astype("timedelta64[D]")
    return pa.table({
        "o_orderkey": pa.array(np.arange(first_key, first_key + n), pa.int64()),
        "o_custkey": pa.array(cust, pa.int64()),
        "o_orderstatus": rng.choice(STATUSES, n),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": pa.array((FIRST_DAY + days).astype("datetime64[us]")),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    })


def write_star(out_dir: str, seed: int, n_orders: int, n_customers: int) -> dict:
    """Write region/nation/customer/orders parquet under ``out_dir`` (the
    catalog's table names) and return the row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    write(pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": list(REGIONS),
    }), f"{out_dir}/region.parquet")
    write(pa.table({
        "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": pa.array([i % len(REGIONS) for i in range(N_NATIONS)], pa.int32()),
    }), f"{out_dir}/nation.parquet")
    write(pa.table({
        "c_custkey": pa.array(np.arange(n_customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, n_customers), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customers), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_customers),
    }), f"{out_dir}/customer.parquet")
    write(orders_table(rng, 0, n_orders, n_customers), f"{out_dir}/orders.parquet")
    return {"orders": n_orders, "customers": n_customers, "nations": N_NATIONS}


# --------------------------------------------------------------------------
# vectors
# --------------------------------------------------------------------------


def vector_centers() -> np.ndarray:
    return np.random.default_rng([SHAPE_SEED, 2]).normal(size=(N_CLUSTERS, VEC_DIM))


def vectors(
    rng: np.random.Generator, centers: np.ndarray, n: int, noise: float = 0.35
) -> np.ndarray:
    """``n`` float32 vectors scattered around the cluster centres (base
    vectors, added batches and queries all come from this mixture)."""
    pick = rng.integers(0, len(centers), n)
    out = centers[pick] + noise * rng.normal(size=(n, centers.shape[1]))
    return out.astype(np.float32)


def vector_table(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    })


# --------------------------------------------------------------------------
# documents
# --------------------------------------------------------------------------


def vocabulary(n: int = 4000) -> np.ndarray:
    """``n`` distinct pseudo-words built from syllables."""
    rng = np.random.default_rng([SHAPE_SEED, 3])
    syl = np.array(["ka", "lo", "mi", "ter", "an", "sol", "ve", "ri", "dum",
                    "pe", "xo", "ba", "gen", "tu", "ro", "fi", "nal", "os"])
    words: set[str] = set()
    while len(words) < n:
        k = rng.integers(2, 5)
        words.add("".join(rng.choice(syl, k)))
    return np.array(sorted(words))


class DocMaker:
    """Seeded documents in the ``documents`` table shape: 10-80 Zipf-drawn
    words plus the language's marker words; ~10% carry an e-mail or a
    phone number for the PII scrub."""

    def __init__(self):
        self.vocab = vocabulary()
        self.p = zipf_weights(len(self.vocab), 0.9)

    def text(self, rng: np.random.Generator, lang: str) -> str:
        n = int(rng.integers(10, 80))
        words = list(rng.choice(self.vocab, n, p=self.p))
        markers = LANG_WORDS[lang]
        for _ in range(max(2, n // 6)):
            words.insert(int(rng.integers(0, len(words) + 1)),
                         markers[int(rng.integers(0, len(markers)))])
        roll = rng.random()
        if roll < 0.05:
            words.append(f"mail{int(rng.integers(0, 999))}@example.org")
        elif roll < 0.10:
            words.append(f"555-{int(rng.integers(100, 999))}-{int(rng.integers(1000, 9999))}")
        return " ".join(words)

    def near_copy(self, rng: np.random.Generator, text: str, rate: float = 0.05) -> str:
        """A near duplicate: ``rate`` of the words replaced."""
        words = text.split(" ")
        for i in np.flatnonzero(rng.random(len(words)) < rate):
            words[i] = self.vocab[int(rng.integers(0, len(self.vocab)))]
        return " ".join(words)

    def docs(self, rng: np.random.Generator, ids) -> list[tuple[int, str, str, str]]:
        out = []
        for i in ids:
            lang = LANGS[int(rng.integers(0, len(LANGS)))]
            out.append((int(i), self.text(rng, lang), lang, f"src{int(i) % N_SOURCES}"))
        return out


def doc_table(rows: list[tuple[int, str, str, str]]) -> pa.Table:
    return pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": [r[1] for r in rows],
        "lang": [r[2] for r in rows],
        "source": [r[3] for r in rows],
    })


def with_duplicates(
    rng: np.random.Generator,
    maker: DocMaker,
    fresh: list[tuple[int, str, str, str]],
    pool: list[tuple[int, str, str, str]],
    dup_rate: float,
) -> tuple[list[tuple[int, str, str, str]], list[int]]:
    """Replace ``dup_rate`` of ``fresh`` (keeping their ids) with exact or
    near copies of docs drawn from ``pool``. Returns the rows and the
    ``pool`` doc ids that were copied, in row order (-1 = fresh)."""
    rows, origin = [], []
    for row in fresh:
        if pool and rng.random() < dup_rate:
            src = pool[int(rng.integers(0, len(pool)))]
            text = src[1] if rng.random() < 0.5 else maker.near_copy(rng, src[1])
            rows.append((row[0], text, src[2], row[3]))
            origin.append(src[0])
        else:
            rows.append(row)
            origin.append(-1)
    return rows, origin
