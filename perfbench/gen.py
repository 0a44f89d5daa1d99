"""Seeded input generation for the benchmark.

Everything the engine sees in a benchmark run comes from here: the ten
star-schema tables (written as parquet, one file per table, in the same
schemas as the engine's test data) and the ``curation_ingest`` script
(document micro-batches with near-duplicate and exact copies, one
re-delivered batch, the delete victims and an ``events`` changelog).
The same ``seed`` gives byte-identical inputs; the engine receives only
the generated files and DataFrames.

Shapes follow the test data at each scale factor: uniform TPC-H-style
keys and flags, a 30-word document vocabulary with ~5% suffixed
near-duplicates, 64-d unit embeddings clustered by label, and one month
of time-ordered ``events``.
"""

from __future__ import annotations

import dataclasses
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "a agg batch big column customer data filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window fast"
).split()

DAY_US = 86_400_000_000
TPCH_START_US = 788_918_400_000_000  # 1995-01-01
EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream, so adding a stream never
    shifts the values of another."""
    return np.random.default_rng([seed, *stream.encode()])


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    # ~5% near-duplicates (an earlier doc plus a marker word) and a few
    # exact copies, as in the test data
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            out[i] = out[int(rng.integers(0, i))] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.002):
        if i:
            out[i] = out[int(rng.integers(0, i))]
    return out


def star_tables(seed: int, sf: float, names=TABLES) -> dict[str, pa.Table]:
    """The tables ``names`` at scale factor ``sf`` (row counts as in the
    test data: lineitem ≈ 6M·sf, events = 1M·sf, documents = 50k·sf).
    Each table draws from its own stream, so the subset asked for does
    not change any table's values."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc = int(1_000_000 * sf), int(50_000 * sf)
    n_emb, n_users = max(500, int(20_000 * sf)), int(15_000 * sf)
    r = {t: _rng(seed, t) for t in TABLES}
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    g = r["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(g, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[g.integers(0, 5, n_cust)],
        }
    )
    g = r["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(g, -999.99, 9999.99, n_supp),
        }
    )
    g = r["part"]
    pk = np.arange(n_part, dtype="int64")
    adj, noun = np.array(P_ADJ), np.array(P_NOUN)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": np.char.add(
                np.char.add(adj[g.integers(0, 8, n_part)], " "),
                noun[g.integers(0, 8, n_part)],
            ),
            "p_brand": np.char.add("Brand#", g.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(P_TYPES)[g.integers(0, 6, n_part)],
            "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    g = r["orders"]
    odays = g.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": g.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[g.integers(0, 3, n_ord)],
            "o_totalprice": _money(g, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(TPCH_START_US + odays * DAY_US),
            "o_orderpriority": np.array(PRIORITIES)[g.integers(0, 5, n_ord)],
        }
    )
    g = r["lineitem"]
    lok = g.integers(0, n_ord, n_li)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": lok,
            "l_partkey": g.integers(0, n_part, n_li),
            "l_suppkey": g.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(g.integers(1, 8, n_li), pa.int32()),
            "l_quantity": g.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _money(g, 900.0, 105_000.0, n_li),
            "l_discount": g.integers(0, 11, n_li) / 100.0,
            "l_tax": g.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[g.integers(0, 2, n_li)],
            "l_shipdate": _ts(
                TPCH_START_US + (odays[lok] + g.integers(1, 122, n_li)) * DAY_US
            ),
        }
    )
    g = r["events"]
    ts = np.sort(g.integers(0, 30 * DAY_US, n_ev)) + EVENTS_START_US
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": _ts(ts),
            "user_id": g.integers(0, n_users, n_ev),
            "event_type": np.array(EVENT_TYPES)[g.integers(0, 5, n_ev)],
            "value": np.round(g.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)],
        }
    )
    g = r["documents"]
    texts = _texts(g, n_doc)
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype="int64"),
            "text": texts,
            "lang": np.array(LANGS)[g.choice(5, n_doc, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    g = r["embeddings"]
    labels = g.integers(0, 10, n_emb)
    centers = g.normal(0.0, 1.0, (10, 64))
    vec = centers[labels] + g.normal(0.0, 1.0, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype="int64"),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return {n: out[n] for n in names}


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    """Write each table as ``<sf_dir>/<name>.parquet``."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"))


# ------------------------------------------------------- curation_ingest


@dataclasses.dataclass
class IngestScript:
    """The ``curation_ingest`` inputs, all derived from one seed.

    ``batches[i]`` is a list of (doc_id, source, text) rows delivered
    under batch id ``i``; ``redeliver`` is the id of the batch sent a
    second time right after ``redeliver_after``; ``victims`` are doc ids
    deleted after batch ``delete_after``; ``compact_after`` is the batch
    after which ``compact()`` runs; ``changelog[i]`` is the events
    upsert sent with batch ``i`` as (event_id, ts_us, ver, value) rows."""

    batches: list[list[tuple[int, str, str]]]
    redeliver: int
    redeliver_after: int
    victims: list[int]
    delete_after: int
    compact_after: int
    changelog: list[list[tuple[int, int, int, float]]]


NEAR_OFFSET = 1_000_000
EXACT_OFFSET = 2_000_000


def ingest_script(
    seed: int,
    docs: pa.Table,
    n_batches: int,
    batch_docs: int,
    changelog_rows: int,
    n_keys: int,
) -> IngestScript:
    """Seeded micro-batches over ``docs`` (doc_id, source, text).

    Each batch takes ``batch_docs`` fresh documents and adds, for a
    seeded fifth of them, a near-duplicate (first two words dropped,
    id + 1e6) and for a seeded tenth an exact copy (id + 2e6); copies
    land in the same or a later batch, so cross-batch dedup is
    exercised. Ids never collide: originals are < 1e6."""
    g = _rng(seed, "ingest")
    order = g.permutation(docs.num_rows)[: n_batches * batch_docs]
    ids = docs.column("doc_id").to_numpy()
    src = docs.column("source").to_pylist()
    txt = docs.column("text").to_pylist()
    batches: list[list[tuple[int, str, str]]] = [[] for _ in range(n_batches)]
    for b in range(n_batches):
        for j in order[b * batch_docs : (b + 1) * batch_docs]:
            d = int(ids[j])
            batches[b].append((d, src[j], txt[j]))
            if g.random() < 0.2:
                words = txt[j].split(" ")
                near = " ".join(words[2:]) if len(words) > 4 else txt[j] + " dup"
                batches[int(g.integers(b, n_batches))].append(
                    (d + NEAR_OFFSET, src[j], near)
                )
            if g.random() < 0.1:
                batches[int(g.integers(b, n_batches))].append(
                    (d + EXACT_OFFSET, src[j], txt[j])
                )
    third = max(1, n_batches // 3)
    redeliver_after = int(g.integers(third, n_batches))
    redeliver = int(g.integers(0, redeliver_after + 1))
    delete_after = int(g.integers(third, n_batches))
    # victims never come from the re-delivered batch, so a re-delivery
    # after the delete cannot bring one back
    delivered = [
        r[0]
        for i, b in enumerate(batches[: delete_after + 1])
        if i != redeliver
        for r in b
    ]
    n_victims = max(1, len(delivered) // 50)
    victims = sorted(int(v) for v in g.choice(delivered, n_victims, replace=False))
    compact_after = int(g.integers(third, n_batches - 1)) if n_batches > 2 else 0

    # events changelog: revisions of a fixed key space, versions arriving
    # out of order across batches (a stale version must never win)
    key_day = g.integers(0, 30, n_keys)
    key_off = g.integers(0, DAY_US, n_keys)
    vers_all = g.permutation(n_batches * changelog_rows)  # unique versions
    changelog = []
    for b in range(n_batches):
        keys = g.integers(0, n_keys, changelog_rows)
        vers = vers_all[b * changelog_rows : (b + 1) * changelog_rows]
        vals = np.round(g.exponential(50.0, changelog_rows), 2)
        changelog.append(
            [
                (
                    int(k),
                    int(EVENTS_START_US + key_day[k] * DAY_US + key_off[k]),
                    int(v),
                    float(x),
                )
                for k, v, x in zip(keys, vers, vals)
            ]
        )
    return IngestScript(
        batches=batches,
        redeliver=redeliver,
        redeliver_after=redeliver_after,
        victims=victims,
        delete_after=delete_after,
        compact_after=compact_after,
        changelog=changelog,
    )


def keep_latest(changelog: list[list[tuple[int, int, int, float]]]) -> dict:
    """Reference for the sink: per event_id, the row with the highest
    version over the whole changelog (versions are unique)."""
    best: dict[int, tuple[int, int, float]] = {}
    for batch in changelog:
        for k, ts, ver, val in batch:
            cur = best.get(k)
            if cur is None or ver > cur[1]:
                best[k] = (ts, ver, val)
    return best
