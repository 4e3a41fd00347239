"""Seeded input generators for the benchmark workloads.

Every table is a pure function of the workload seed, so the same seed
gives the same inputs (stream events differ only in their ``gen_ts``
write stamps). The shapes follow the sf0.1 fixture
layout the engine reads (one parquet file per table, a single row
group, ``timestamp[us]`` columns):

- ``fixture_tables``: the TPC-H-style star schema and ``events`` at
  sf0.1 sizes (600k lineitem rows), plus the corpus below;
- ``corpus_tables``: ``documents``/``embeddings`` tiled x3 with a
  rotated vocabulary per replica and Zipf-distributed stopwords shared
  across the corpus (the ``--zipf`` tiling of ``scripts/gen_scale.py``),
  from N_CORPUS_BASE base documents: 1.5k documents, vocabulary ~1.1k;
- ``EventSchedule``: the stream generator's event stream, one file per
  tick, with Zipf user keys and a seed-set share of out-of-order events.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2

SF = 0.1
N_CUSTOMER = int(150_000 * SF)
N_SUPPLIER = int(10_000 * SF)
N_PART = int(200_000 * SF)
N_ORDERS = int(1_500_000 * SF)
N_EVENTS = 100_000
N_USERS = 1_500
N_VECS = 2_000
VEC_DIM = 64
CORPUS_FACTOR = 3
N_CORPUS_BASE = 500
ZIPF_VOCAB = 1024

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z in us
EPOCH_2024_S = 1_704_067_200  # 2024-01-01T00:00:00Z
_EPOCH_2024 = EPOCH_2024_S * 1_000_000


def _rng(seed: int, salt: str) -> np.random.Generator:
    h = hashlib.sha256(f"{GEN_VERSION}:{seed}:{salt}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _documents(rng: np.random.Generator, n: int) -> dict[str, list]:
    """Uniform word sequences over a 31-word vocabulary; ~5% of documents
    are near-duplicates (a copy of an earlier one plus ``dup``) and a few
    are exact copies, so the dedup operators have true pairs to find."""
    lengths = rng.integers(10, 101, n)
    texts: list[str] = []
    kinds = rng.random(n)
    for i in range(n):
        if i > 10 and kinds[i] < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and kinds[i] < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            idx = rng.integers(0, len(WORDS), lengths[i])
            texts.append(" ".join(WORDS[j] for j in idx))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n)].tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
    }


def _doc_table(cols: dict[str, list]) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(cols["doc_id"], pa.int64()),
            "text": pa.array(cols["text"], pa.string()),
            "lang": pa.array(cols["lang"], pa.string()),
            "source": pa.array(cols["source"], pa.string()),
            "n_chars": pa.array([len(t) for t in cols["text"]], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> np.ndarray:
    x = rng.standard_normal((n, VEC_DIM)).astype(np.float32)
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _emb_table(vecs: np.ndarray, labels: np.ndarray, id0: int = 0) -> pa.Table:
    return pa.table(
        {
            "vec_id": pa.array(np.arange(id0, id0 + len(vecs)), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype("int32"), pa.int32()),
        }
    )


def events_table(rng: np.random.Generator, n: int = N_EVENTS) -> pa.Table:
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, N_USERS, n), pa.int64()),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, 5, n)], pa.string()
            ),
            "value": pa.array(_money(rng.gamma(2.0, 40.0, n)), pa.float64()),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
            ),
        }
    )


def fixture_tables(seed: int) -> dict[str, pa.Table]:
    r = _rng(seed, "fixtures")
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    out: dict[str, pa.Table] = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(regions, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
            "c_nationkey": pa.array(r.integers(0, 25, N_CUSTOMER), pa.int32()),
            "c_acctbal": pa.array(_money(r.uniform(-999.99, 9999.99, N_CUSTOMER))),
            "c_mktsegment": pa.array(segs[r.integers(0, 5, N_CUSTOMER)]),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
            "s_nationkey": pa.array(r.integers(0, 25, N_SUPPLIER), pa.int32()),
            "s_acctbal": pa.array(_money(r.uniform(-999.99, 9999.99, N_SUPPLIER))),
        }
    )
    adj = ["blue", "cold", "hot", "large", "old", "red", "shiny", "small"]
    noun = ["anvil", "bolt", "gear", "nut", "plate", "ring", "screw", "widget"]
    names = np.array([f"{a} {b}" for a in adj for b in noun])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(N_PART)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": pa.array(names[r.integers(0, len(names), N_PART)]),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, N_PART)]),
            "p_type": pa.array(types[r.integers(0, len(types), N_PART)]),
            "p_size": pa.array(r.integers(1, 51, N_PART), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2)),
        }
    )
    odate = _EPOCH_1995 + r.integers(0, 2405, N_ORDERS) * _DAY_US
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(r.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, N_ORDERS)]),
            "o_totalprice": pa.array(_money(r.uniform(1000.0, 500000.0, N_ORDERS))),
            "o_orderdate": _ts(odate),
            "o_orderpriority": pa.array(prio[r.integers(0, 5, N_ORDERS)]),
        }
    )
    lines = r.integers(1, 8, N_ORDERS)
    lok = np.repeat(np.arange(N_ORDERS), lines)
    n_li = len(lok)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = r.integers(1, 51, n_li).astype(float)
    ship = np.repeat(odate, lines) + r.integers(1, 122, n_li) * _DAY_US
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lok, pa.int64()),
            "l_partkey": pa.array(r.integers(0, N_PART, n_li), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, N_SUPPLIER, n_li), pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(_money(qty * r.uniform(900.0, 2100.0, n_li))),
            "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n_li)]),
            "l_shipdate": _ts(ship),
        }
    )
    out["events"] = events_table(r)
    out.update(corpus_tables(seed))
    return out


def corpus_tables(seed: int) -> dict[str, pa.Table]:
    """N_CORPUS_BASE documents (and N_VECS vectors) tiled CORPUS_FACTOR times."""
    r = _rng(seed, "corpus")
    base = _documents(r, N_CORPUS_BASE)
    vecs = _embeddings(r, N_VECS)
    labels = r.integers(0, 10, N_VECS)
    docs: dict[str, list] = {k: [] for k in base}
    emb = []
    for rep in range(CORPUS_FACTOR):
        for i, text in enumerate(base["text"]):
            words = text.split(" ")
            if rep:
                words = [f"{w}§{rep}" for w in words]
            s = len(set(words)) // 4
            ranks = np.ceil(ZIPF_VOCAB ** r.random(s)).astype(int)
            docs["text"].append(" ".join(words + [f"zz§§{k}" for k in ranks]))
            docs["doc_id"].append(rep * N_CORPUS_BASE + i)
        docs["lang"] += base["lang"]
        docs["source"] += base["source"]
        emb.append(_emb_table(np.roll(vecs, rep, axis=1), labels, rep * N_VECS))
    return {"documents": _doc_table(docs), "embeddings": pa.concat_tables(emb)}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


# ----------------------------------------------------------------- stream
STREAM_USERS = 100
#: Tumbling window of the `window` statement, and the largest event-time
#: displacement of an out-of-order event (kept below the watermark delay
#: so no event is dropped as late and the batch answer stays exact).
STREAM_WINDOW_S = 2
STREAM_DISORDER_S = 1.5
STREAM_WATERMARK_S = 2


def zipf_users(rng: np.random.Generator, n: int) -> np.ndarray:
    """Zipf(s=1.1) user keys over STREAM_USERS ids (rank -> id)."""
    ranks = np.arange(1, STREAM_USERS + 1)
    p = ranks ** -1.1
    return rng.choice(STREAM_USERS, size=n, p=p / p.sum())


class EventSchedule:
    """Deterministic event content for the open-loop stream generator.

    Tick ``k`` holds ``n`` events whose event times spread over the
    tick's nominal interval ``[k * tick_s, (k + 1) * tick_s)`` (offset
    from a fixed epoch); a seed-set share of them is shifted back by up
    to STREAM_DISORDER_S (out of order). The content of a tick depends
    only on (seed, k, n), not on which process writes it or when."""

    def __init__(self, seed: int):
        self.seed = seed
        self.late_share = 0.05 + 0.10 * _rng(seed, "stream").random()

    def tick(self, k: int, n: int, tick_s: float) -> dict[str, np.ndarray]:
        r = _rng(self.seed, f"tick{k}:{n}")
        offs = np.sort(r.random(n)) * tick_s
        late = r.random(n) < self.late_share
        shift = np.where(late, r.random(n) * STREAM_DISORDER_S, 0.0)
        ts_us = _EPOCH_2024 + ((k * tick_s + offs - shift) * 1e6).astype("int64")
        return {
            "event_id": k * 1_000_000 + np.arange(n),
            "ts": ts_us,
            "user_id": zipf_users(r, n),
            "event_type": np.array(EVENT_TYPES)[r.choice(5, n, p=[0.45, 0.3, 0.1, 0.05, 0.1])],
            "value": _money(r.gamma(2.0, 40.0, n)),
        }


def stream_schema() -> pa.Schema:
    return pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us", tz="UTC")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("gen_ts", pa.float64()),
        ]
    )
