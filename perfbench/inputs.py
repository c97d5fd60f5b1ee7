"""Seeded inputs for the benchmark workloads.

Every generator is a pure function of its seed, so the same seed gives
byte-identical inputs. The system under test receives only what these
functions produce: DataFrame rows, parquet files, base64 payloads and
a fetcher that serves weather pages.
"""

from __future__ import annotations

import base64
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDER_STATUSES = ("O", "F", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
ORDERS_DDL = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate date, o_orderpriority string"
)
EPOCH = dt.date(2024, 1, 1)


def stable_hash(*parts) -> int:
    """Stable 64-bit hash (Python's hash() is salted per process)."""
    d = hashlib.blake2b("\x1f".join(map(str, parts)).encode(), digest_size=8)
    return int.from_bytes(d.digest(), "little")


# ---------------------------------------------------------------------------
# Keyed orders table (the elt_daily CDC target and serving table)
# ---------------------------------------------------------------------------


def order_rows(rng: np.random.Generator, keys, n_cust: int, version: int = 0) -> list[tuple]:
    """One order row per key; ``version`` shifts prices so an update is
    visible in the data."""
    n = len(keys)
    cust = rng.integers(0, n_cust, n)
    status = rng.integers(0, len(ORDER_STATUSES), n)
    cents = rng.integers(100_00, 400_000_00, n) + version
    days = rng.integers(0, 3 * 365, n)
    prio = rng.integers(0, len(PRIORITIES), n)
    return [
        (
            int(k),
            int(cust[i]),
            ORDER_STATUSES[status[i]],
            round(int(cents[i]) / 100, 2),
            EPOCH - dt.timedelta(days=int(days[i])),
            PRIORITIES[prio[i]],
        )
        for i, k in enumerate(keys)
    ]


def zipf_picker(rng: np.random.Generator, population, a: float = 1.3):
    """Draw members of ``population`` with Zipf-skewed popularity over a
    seeded rank order, so a few keys are hot and most are cold."""
    order = rng.permutation(len(population))

    def pick(k: int):
        ranks = np.minimum(rng.zipf(a, k) - 1, len(population) - 1)
        return [population[order[r]] for r in ranks]

    return pick


# ---------------------------------------------------------------------------
# elt_daily: weather pages, website-hit payloads, daily CDC
# ---------------------------------------------------------------------------


class SeededWeatherFetcher:
    """Serves ``weather://<zip>/<date>`` pages derived from a seed.

    About ``skip_frac`` of URLs have no page and raise ``FetchError``,
    which the weather source treats as a skipped key. Instances pickle
    by reference to this module, so Spark's Python workers must be able
    to import it (run.py puts this directory on ``PYTHONPATH``)."""

    def __init__(self, seed: int, skip_frac: float = 0.02):
        self.seed = seed
        self.skip_frac = skip_frac

    def has_page(self, url: str) -> bool:
        return stable_hash(self.seed, "skip", url) % 10_000 >= int(self.skip_frac * 10_000)

    def page(self, url: str) -> dict:
        h = stable_hash(self.seed, "day", url)
        lo = 20 + h % 50
        day = {
            "maxtemp_f": float(lo + 5 + (h >> 8) % 30),
            "mintemp_f": float(lo),
            "avgtemp_f": float(lo) + ((h >> 16) % 50) / 10,
            "totalprecip_in": ((h >> 24) % 300) / 100,
        }
        return {"forecast": {"forecastday": [{"day": day}]}}

    def __call__(self, url: str) -> str:
        from datapipelinerepo_spark.sources.base import FetchError

        if not self.has_page(url):
            raise FetchError(url)
        return json.dumps(self.page(url))


def zip_codes(n: int) -> list[str]:
    return [f"{30000 + i:05d}" for i in range(n)]


PAGES = ("/", "/about", "/projects", "/blog", "/contact", "/cv")
DEVICES = ("desktop", "mobile", "tablet")
LANGS = ("en-US", "de-DE", "fr-FR", "es-ES")


def hit_payloads(seed: int, day: dt.date, tag: str, n: int) -> list[str]:
    """Base64 JSON hit payloads (the pushed website-event shape)."""
    rng = np.random.default_rng(stable_hash(seed, "hits", tag, day))
    secs = np.sort(rng.integers(0, 86_400, n))
    pages = rng.integers(0, len(PAGES), n)
    dev = rng.integers(0, len(DEVICES), n)
    lang = rng.integers(0, len(LANGS), n)
    sess = rng.integers(0, max(1, n // 8), n)
    start = dt.datetime.combine(day, dt.time())
    out = []
    for i in range(n):
        rec = {
            "time_stamp": (start + dt.timedelta(seconds=int(secs[i]))).isoformat(sep=" "),
            "id": f"{tag}-{day.isoformat()}-{i}",
            "session": f"s{int(sess[i])}",
            "page": PAGES[pages[i]],
            "referrer": "direct" if i % 3 else "search",
            "device": DEVICES[dev[i]],
            "language": LANGS[lang[i]],
        }
        out.append(base64.b64encode(json.dumps(rec).encode()).decode())
    return out


def daily_cdc(seed: int, day_no: int, live_keys: list[int], next_key: int, n_cust: int,
              n_upsert: int, n_merge: int, delete_span: int):
    """One day's change stream for the keyed orders table.

    Returns ``(upsert_rows, merge_rows, delete_range, next_key)``:
    an upsert batch (half updates of live keys, half new keys), a
    tagged merge batch (``U`` updates, ``D`` deletes, ``I`` inserts),
    and an inclusive key range for ``delete_where``. Keys are unique
    within each batch."""
    rng = np.random.default_rng(stable_hash(seed, "cdc", day_no))
    n_upd = n_upsert // 2
    upd = rng.choice(live_keys, n_upd, replace=False).tolist()
    new = list(range(next_key, next_key + n_upsert - n_upd))
    next_key += len(new)
    ups = order_rows(rng, upd + new, n_cust, version=day_no + 1)
    taken = set(upd)
    pool = [k for k in rng.choice(live_keys, 2 * n_merge, replace=False).tolist() if k not in taken]
    m_upd, m_del = pool[: n_merge // 2], pool[n_merge // 2 : n_merge // 2 + n_merge // 4]
    m_ins = list(range(next_key, next_key + n_merge - len(m_upd) - len(m_del)))
    next_key += len(m_ins)
    rows = order_rows(rng, m_upd + m_del + m_ins, n_cust, version=day_no + 101)
    tags = ["U"] * len(m_upd) + ["D"] * len(m_del) + ["I"] * len(m_ins)
    merge = [r + (t,) for r, t in zip(rows, tags)]
    lo = int(rng.choice(live_keys))
    return ups, merge, (lo, lo + delete_span - 1), next_key


# ---------------------------------------------------------------------------
# analytics: the registry's tables, at a fixed data seed
# ---------------------------------------------------------------------------

WORDS = (
    "spark column vector stream key line value order big a small sort row "
    "scan hash table query customer merge join filter group part agg batch "
    "data the fast slow index"
).split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
DOC_LANGS = ("en", "en", "en", "de", "fr", "es", "zh")


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def write_analytics_tables(out_dir: str, seed: int) -> None:
    """The ten registry tables at a small fixed size (about sf0.002).

    Join relationships hold (every lineitem has its order, every order
    its customer), documents carry planted near-duplicates and
    embeddings form ten labelled clusters, so every benchmarked query
    has non-trivial output."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(stable_hash(seed, "analytics"))
    n_cust, n_ord, n_part, n_supp = 300, 3000, 400, 20
    ts = pa.timestamp("us")

    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    adj = ("blue", "red", "hot", "cold", "old", "new", "small")
    noun = ("bolt", "gear", "anvil", "plate", "ring", "rod", "widget")
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 7, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(10, 35, n_part)],
        "p_type": [("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")[i]
                   for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 1000, n_part), 1),
    })
    odate = np.datetime64("1995-01-01") + rng.integers(0, 2400, n_ord).astype("timedelta64[D]")
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [ORDER_STATUSES[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 400_000, n_ord), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), ts),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    per = rng.integers(0, 8, n_ord)  # some orders get no lineitems
    l_ok = np.repeat(np.arange(n_ord), per)
    n_li = len(l_ok)
    l_no = np.concatenate([np.arange(1, k + 1) for k in per if k]) if n_li else np.array([])
    qty = rng.integers(1, 51, n_li).astype(float)
    ship = odate[l_ok] + rng.integers(1, 120, n_li).astype("timedelta64[D]")
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": pa.array(l_ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_no, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), ts),
    })
    n_ev = 4000
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    _write(f"{out_dir}/events.parquet", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array((np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]")), ts),
        "user_id": pa.array(rng.integers(0, 100, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0.01, 500, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    n_doc = 400
    texts: list[str] = []
    long_docs: list[int] = []
    for i in range(n_doc):
        if long_docs and rng.random() < 0.12:
            # planted near-duplicate: one appended token keeps the word
            # trigram Jaccard above 0.98, where the MinHash query's
            # banding recall is complete and its oracle is exact
            src = texts[long_docs[int(rng.integers(0, len(long_docs)))]]
            texts.append(f"{src} {WORDS[int(rng.integers(0, len(WORDS)))]}")
        else:
            n_tok = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[k] for k in rng.integers(0, len(WORDS), n_tok)))
            if n_tok >= 60:
                long_docs.append(i)
    _write(f"{out_dir}/documents.parquet", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [DOC_LANGS[i] for i in rng.integers(0, len(DOC_LANGS), n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n_vec, dim = 400, 64
    centers = rng.normal(0, 0.2, (10, dim))
    labels = rng.integers(0, 10, n_vec)
    vecs = (centers[labels] + rng.normal(0, 0.05, (n_vec, dim))).astype(np.float32)
    _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
