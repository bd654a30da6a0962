"""Seeded input generators owned by the benchmark.

Every input the engine sees is made here from the workload seed, so the
same seed gives byte-identical inputs. Three generators:

* :func:`write_star_schema` — the TPC-H-shaped star schema plus the
  ``events`` table, one parquet file per table (the layout
  ``catalog.load_table`` reads), at a stated scale factor.
* :class:`EventFileGenerator` — the open-loop event feed: files of
  ``(event_id, ts, user_id, event_type, value)`` at a stated rate, with
  Zipf-skewed ``user_id``, a stated share of out-of-order ``ts`` and a
  stated event-time advance per wall second.
* :func:`write_curation_corpus` — ``documents`` + ``embeddings`` with a
  stated corpus size and a stated share of planted near-duplicates; the
  planted ``(original, copy)`` pairs are returned for the recall check.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["small", "red", "blue", "green", "big", "steel"]
PART_NOUNS = ["ring", "widget", "bolt", "gear", "pipe", "valve"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]

# Document vocabulary: engine/analytics words plus stopwords. ASCII only,
# so every regex class (\W, \w, \s) means the same in Spark and DuckDB.
VOCAB = (
    "the a an and or is are to of in "
    "key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big "
    "group filter stream index shard cache plan stage task shuffle spill "
    "codegen broadcast exchange partition bucket commit offset state "
    "watermark trigger sink source checkpoint compaction floor tier "
    "token shingle minhash band signature jaccard cosine vector cluster "
    "centroid label quality redaction packing sequence corpus document "
    "crawl mirror domain url title body footer header menu link anchor "
    "image audio caption score rank top bottom left right early late"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100), n)
    return cents / 100.0


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def write_star_schema(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write region … lineitem + events as ``<out_dir>/<table>.parquet``.

    Row counts follow TPC-H ratios (``lineitem`` ≈ 4 × ``orders``);
    returns them by table name."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_users = max(20, int(15_000 * sf))
    n_events = max(1_000, int(1_000_000 * sf))

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), f"{out_dir}/supplier.parquet")
    pw = rng.integers(0, len(PART_WORDS), n_part)
    pn = rng.integers(0, len(PART_NOUNS), n_part)
    _write(pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_WORDS[a]} {PART_NOUNS[b]}" for a, b in zip(pw, pn)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 20_000) / 10.0,
    }), f"{out_dir}/part.parquet")

    o_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    o_date = _EPOCH_1995 + o_days * _DAY_US
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }), f"{out_dir}/orders.parquet")

    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(l_order)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    l_ship = np.repeat(o_date, lines) + rng.integers(1, 122, n_li) * _DAY_US
    _write(pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": l_num,
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(l_ship),
    }), f"{out_dir}/lineitem.parquet")

    # one event every (30 days / n_events): the fixture's month of events
    ev = EventFileGenerator(seed=seed, rate=1.0, n_users=n_users, zipf_s=0.0,
                            out_of_order_share=0.0,
                            event_time_advance=30 * 86_400 / n_events)
    _write(ev.batch(0, n_events, with_props=True), f"{out_dir}/events.parquet")
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_li, "events": n_events,
    }


@dataclass
class EventFileGenerator:
    """Seeded event rows for the stream workload.

    ``rate`` events per wall second arrive in files of ``file_events``
    rows. Event ``i`` nominally happens ``i / rate * event_time_advance``
    event-time seconds after 2024-01-01; ``out_of_order_share`` of the
    rows are pushed back by up to ``max_lateness_s`` event-time seconds.
    ``user_id`` follows a Zipf law with exponent ``zipf_s`` over
    ``n_users`` users (``zipf_s=0`` is uniform). Row content depends only
    on (seed, row index), never on when a file is written."""

    seed: int
    rate: float = 5_000.0
    file_events: int = 500
    n_users: int = 2_000
    zipf_s: float = 1.1
    out_of_order_share: float = 0.1
    max_lateness_s: float = 3_600.0
    event_time_advance: float = 60.0

    def __post_init__(self) -> None:
        ranks = np.arange(1, self.n_users + 1, dtype=np.float64)
        w = ranks ** -self.zipf_s
        self._user_cdf = np.cumsum(w / w.sum())

    def batch(self, start: int, n: int, with_props: bool = False) -> pa.Table:
        """Rows ``start .. start+n-1`` of the feed as an arrow table."""
        rng = np.random.default_rng([self.seed, 2, start])
        idx = np.arange(start, start + n, dtype=np.int64)
        ts_s = idx / self.rate * self.event_time_advance
        late = rng.random(n) < self.out_of_order_share
        ts_s = ts_s - late * rng.random(n) * self.max_lateness_s
        ts_us = _EPOCH_2024 + np.floor(ts_s * 1e6).astype(np.int64)
        users = np.searchsorted(self._user_cdf, rng.random(n), side="right")
        cols = {
            "event_id": idx,
            "ts": _ts(ts_us),
            "user_id": np.minimum(users, self.n_users - 1).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": rng.integers(1, 50_000, n) / 100.0,
        }
        if with_props:
            cols["props"] = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
        return pa.table(cols)

    @staticmethod
    def file_name(file_no: int) -> str:
        return f"ev-{file_no:07d}.parquet"

    def write_file(self, directory: str, file_no: int) -> tuple[str, int]:
        """Write file ``file_no`` atomically (temp name, then rename) into
        ``directory``; returns its path and row count."""
        t = self.batch(file_no * self.file_events, self.file_events)
        name = self.file_name(file_no)
        tmp = os.path.join(directory, f".{name}.tmp")
        _write(t, tmp)
        path = os.path.join(directory, name)
        os.rename(tmp, path)
        return path, t.num_rows


def write_curation_corpus(
    out_dir: str,
    seed: int,
    n_docs: int,
    dup_share: float = 0.1,
    n_vectors: int = 1_000,
    dim: int = 64,
) -> list[tuple[int, int]]:
    """Write ``documents`` and ``embeddings`` parquet for the curation job.

    ``dup_share`` of the ``n_docs`` documents are planted copies of an
    earlier document with 0 or 1 word replaced (0 = exact duplicate; one
    replaced word keeps 3-shingle Jaccard >= 0.8 at 30+ words); the
    returned list holds each planted ``(original_id, copy_id)`` pair.
    Embeddings are ``n_vectors`` float32 vectors around ten label
    centroids."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(VOCAB)
    n_dup = int(n_docs * dup_share)
    n_base = n_docs - n_dup
    texts: list[str] = []
    for _ in range(n_base):
        words = list(vocab[rng.integers(0, len(vocab), rng.integers(30, 90))])
        # sparse punctuation so the quality filter sees non-zero ratios
        for j in range(7, len(words), int(rng.integers(9, 15))):
            words[j] += "," if rng.random() < 0.6 else "."
        texts.append(" ".join(words))
    planted: list[tuple[int, int]] = []
    for copy_id in range(n_base, n_docs):
        orig = int(rng.integers(0, n_base))
        words = texts[orig].split(" ")
        for _ in range(int(rng.integers(0, 2))):
            words[int(rng.integers(0, len(words)))] = str(
                vocab[rng.integers(0, len(vocab))])
        texts.append(" ".join(words))
        planted.append((orig, copy_id))
    # shuffle ids so planted copies are not all at the tail
    perm = rng.permutation(n_docs)
    new_id = np.empty(n_docs, dtype=np.int64)
    new_id[perm] = np.arange(n_docs)
    docs_text = [None] * n_docs
    for old, t in enumerate(texts):
        docs_text[new_id[old]] = t
    planted = sorted(
        tuple(sorted((int(new_id[a]), int(new_id[b])))) for a, b in planted
    )
    _write(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": docs_text,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in docs_text], dtype=np.int64),
    }), f"{out_dir}/documents.parquet")

    labels = rng.integers(0, 10, n_vectors)
    centroids = rng.normal(size=(10, dim))
    vecs = (centroids[labels] + 0.6 * rng.normal(size=(n_vectors, dim)))
    vecs = vecs.astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(n_vectors, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }), f"{out_dir}/embeddings.parquet")
    return planted
