"""Seeded input generators.

Everything the benchmark feeds the engine is made here from one seed with
numpy and written as parquet into a fresh directory; the same seed gives
byte-identical inputs.  Sizes are fixed (they never depend on the seed) so
runs with different seeds do the same amount of work.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- vector_index -----------------------------------------------------------

VEC_N = 2048            # corpus vectors
VEC_DIM = 64
VEC_CLUSTERS = 24
VEC_QUERY_POOL = 512    # probe queries are drawn from this pool in order
VEC_APPEND = 64         # vectors added by each index update
VEC_DELETE = 32         # ids tombstoned by each index update
VEC_UPDATES = 2         # index updates per run: one warm-up, one in the window
QUERY_ID_BASE = 1 << 40  # query ids never collide with corpus ids


@dataclass
class VectorInputs:
    corpus: np.ndarray          # (VEC_N, DIM) float32, unit norm
    queries: np.ndarray         # (VEC_QUERY_POOL, DIM) float32, unit norm
    appends: list[np.ndarray]   # per update: (VEC_APPEND, DIM)
    deletes: list[np.ndarray]   # per update: corpus ids to tombstone


def _unit(x: np.ndarray) -> np.ndarray:
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


#: Cluster sizes follow a fixed Zipf-like law, so inverted lists are uneven
#: the way real embedding corpora are, and equally uneven for every seed.
_CLUSTER_WEIGHTS = 1.0 / np.arange(1, VEC_CLUSTERS + 1) ** 0.7
_CLUSTER_WEIGHTS /= _CLUSTER_WEIGHTS.sum()


def vector_inputs(seed: int) -> VectorInputs:
    """Clustered unit vectors: Gaussian blobs around seeded random centres."""
    rng = np.random.default_rng([seed, 1])
    centres = rng.normal(size=(VEC_CLUSTERS, VEC_DIM))

    def draw(n: int) -> np.ndarray:
        lab = rng.choice(VEC_CLUSTERS, size=n, p=_CLUSTER_WEIGHTS)
        return _unit(centres[lab] + 0.35 * rng.normal(size=(n, VEC_DIM)))

    corpus = draw(VEC_N)
    # half the queries sit near corpus points (re-find a neighbour), half
    # are fresh draws from the same clusters
    near = corpus[rng.integers(0, VEC_N, VEC_QUERY_POOL // 2)]
    near = _unit(near + 0.1 * rng.normal(size=near.shape))
    queries = np.concatenate([near, draw(VEC_QUERY_POOL - len(near))])
    queries = queries[rng.permutation(len(queries))]
    appends = [draw(VEC_APPEND) for _ in range(VEC_UPDATES)]
    deletes = [
        np.sort(rng.choice(VEC_N, size=VEC_DELETE, replace=False)).astype(np.int64)
        for _ in range(VEC_UPDATES)
    ]
    return VectorInputs(corpus, queries, appends, deletes)


def append_ids(update: int) -> np.ndarray:
    """Ids of the vectors added by index update ``update`` (0-based)."""
    start = VEC_N + update * VEC_APPEND
    return np.arange(start, start + VEC_APPEND, dtype=np.int64)


def vectors_table(ids: np.ndarray, vecs: np.ndarray, id_col: str) -> pa.Table:
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(vecs.reshape(-1), pa.float32()), VEC_DIM
    ).cast(pa.list_(pa.float32()))
    return pa.table({id_col: pa.array(ids, pa.int64()), "embedding": emb})


def write_vector_inputs(inp: VectorInputs, out_dir: str) -> dict[str, str]:
    """Parquet files for every frame the engine reads; returns name → path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}

    def put(name: str, table: pa.Table) -> None:
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])

    put("corpus", vectors_table(np.arange(VEC_N, dtype=np.int64), inp.corpus, "vec_id"))
    qids = QUERY_ID_BASE + np.arange(VEC_QUERY_POOL, dtype=np.int64)
    put("queries", vectors_table(qids, inp.queries, "query_id"))
    for u, (vecs, dels) in enumerate(zip(inp.appends, inp.deletes)):
        put(f"append{u}", vectors_table(append_ids(u), vecs, "vec_id"))
        put(f"delete{u}", pa.table({"vec_id": pa.array(dels, pa.int64())}))
    return paths


# -- warehouse ---------------------------------------------------------------

N_CUSTOMER = 1200
N_PART = 1500
N_ORDERS = 12000
LINES_PER_ORDER = 4     # mean; 1..7 per order
N_DOCS = 1500
N_NATIONS = 25
BAD_ROW_SHARE = 0.02    # injected expectation violations per dimension

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_DOMAINS = ["example.com", "mail.test", "corp.invalid", "shop.example"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_FLAGS = ["A", "N", "R"]
#: Gopher's required English function words, so generated prose passes
#: the ``ok_required_words`` rule unless a document is made short on purpose.
_FUNCTION_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _words(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, n)
    return ["".join(rng.choice(letters, size=k)) for k in lens]


def warehouse_tables(seed: int) -> dict[str, pa.Table]:
    """TPC-H-shaped source tables plus a documents table.  Money is integer
    cents so every aggregate is exact in both Spark and DuckDB.  A seeded
    ``BAD_ROW_SHARE`` of customers and parts break an expectation rule."""
    rng = np.random.default_rng([seed, 2])
    ck = np.arange(1, N_CUSTOMER + 1, dtype=np.int64)
    first = np.array(_words(rng, 64))
    last = np.array(_words(rng, 64))
    fi, li = rng.integers(0, 64, N_CUSTOMER), rng.integers(0, 64, N_CUSTOMER)
    email = np.array(
        [f"{first[a]}.{last[b]}{k}@{_DOMAINS[k % 4]}" for a, b, k in zip(fi, li, ck)],
        dtype=object,
    )
    nation = rng.integers(0, N_NATIONS, N_CUSTOMER)
    bad = rng.random(N_CUSTOMER) < BAD_ROW_SHARE
    email[bad & (rng.random(N_CUSTOMER) < 0.5)] = None
    nation[bad & (rng.random(N_CUSTOMER) >= 0.5)] = 99
    customer = pa.table({
        "c_custkey": ck,
        "c_first_name": first[fi],
        "c_last_name": last[li],
        "c_email": pa.array(email, pa.string()),
        "c_nationkey": nation.astype(np.int32),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)],
        "c_acctbal_cents": rng.integers(-99_999, 1_000_000, N_CUSTOMER),
    })

    pk = np.arange(1, N_PART + 1, dtype=np.int64)
    pname = np.array(
        [" ".join(w) for w in np.array(_words(rng, 3 * N_PART)).reshape(-1, 3)],
        dtype=object,
    )
    size = rng.integers(1, 46, N_PART)
    bad = rng.random(N_PART) < BAD_ROW_SHARE
    pname[bad & (rng.random(N_PART) < 0.5)] = None
    size[bad & (rng.random(N_PART) >= 0.5)] = 99
    part = pa.table({
        "p_partkey": pk,
        "p_name": pa.array(pname, pa.string()),
        "p_brand": [f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (N_PART, 2))],
        "p_size": size.astype(np.int32),
        "p_retailprice_cents": rng.integers(90_000, 210_000, N_PART),
        "p_seq": np.ones(N_PART, dtype=np.int64),
    })

    ok = np.arange(1, N_ORDERS + 1, dtype=np.int64) * 4   # sparse keys, like TPC-H
    day0 = np.datetime64("1992-01-01")
    odate = day0 + rng.integers(0, 2400, N_ORDERS).astype("timedelta64[D]")
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, N_CUSTOMER + 1, N_ORDERS),
        "o_orderstatus": np.array(_STATUS)[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice_cents": rng.integers(100_000, 50_000_000, N_ORDERS),
        "o_orderdate": pa.array(odate, pa.date32()),
        "o_orderpriority": np.array(_PRIORITY)[rng.integers(0, 5, N_ORDERS)],
    })

    per = rng.integers(1, 2 * LINES_PER_ORDER, N_ORDERS)
    l_ok = np.repeat(ok, per)
    l_no = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    n_l = len(l_ok)
    qty = rng.integers(1, 51, n_l)
    lineitem = pa.table({
        "l_orderkey": l_ok,
        "l_linenumber": l_no,
        "l_partkey": rng.integers(1, N_PART + 1, n_l),
        "l_quantity": qty.astype(np.int32),
        "l_extendedprice_cents": qty * rng.integers(900, 2100, n_l),
        "l_discount_pct": rng.integers(0, 11, n_l).astype(np.int32),
        "l_returnflag": np.array(_FLAGS)[rng.integers(0, 3, n_l)],
    })

    vocab = np.array(_words(rng, 400) + _FUNCTION_WORDS * 10)
    texts = []
    for i in range(N_DOCS):
        # ~15% too short for Gopher's 50-word floor
        n = int(rng.integers(10, 45)) if rng.random() < 0.15 else int(rng.integers(55, 140))
        texts.append(" ".join(rng.choice(vocab, size=n)))
    # about 6% of documents copy an earlier one verbatim (exact duplicates)
    dup = rng.random(N_DOCS) < 0.12
    src = rng.integers(0, N_DOCS, N_DOCS)
    texts = [texts[s] if d and s < i else t for i, (t, d, s) in enumerate(zip(texts, dup, src))]
    documents = pa.table({
        "doc_id": np.arange(1, N_DOCS + 1, dtype=np.int64),
        "source": np.array(["web", "books", "code"])[rng.integers(0, 3, N_DOCS)],
        "text": texts,
    })
    return {"customer": customer, "part": part, "orders": orders,
            "lineitem": lineitem, "documents": documents}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    """One directory per table (a streaming-source layout: ingest watches
    the directory); returns name → directory."""
    paths = {}
    for name, table in tables.items():
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "part-0.parquet"))
        paths[name] = d
    return paths


# -- change batches ------------------------------------------------------------

#: The warehouse op mix, cycled in this order: every kind once per cycle,
#: commits alternating with reads, so a change that speeds one at the cost
#: of the other shows.  The seed picks each op's rows, never the mix.
OP_CYCLE = [
    "scd1_customer", "read_current", "merge_upsert", "gold_query0",
    "scd2_part", "read_version", "update_where", "gold_query1",
    "merge_delete", "table_changes", "delete_where", "gold_query2",
    "matview_refresh", "gold_query3",
]
COMMIT_OPS = {"scd1_customer", "scd2_part", "merge_upsert", "merge_delete",
              "update_where", "delete_where", "matview_refresh"}
READ_BACK = 3           # read_version reads this many orders commits back
CHANGES_SPAN = 2        # table_changes spans this many orders commits
BATCH_ROWS = 24


class ChangeStream:
    """Deterministic, unbounded sequence of (op, payload) pairs.  The
    payload of op ``i`` depends only on the seed and ``i``, so a run that
    stops earlier replays a prefix of a longer run's stream."""

    def __init__(self, seed: int, tables: dict[str, pa.Table]):
        self.seed = seed
        self.cust = tables["customer"]
        self.part = tables["part"]
        self.orders_keys = tables["orders"].column("o_orderkey").to_numpy()
        self.next_order_key = int(self.orders_keys.max()) + 4

    def op(self, i: int) -> tuple[str, dict]:
        kind = OP_CYCLE[i % len(OP_CYCLE)]
        if kind not in COMMIT_OPS:
            return kind, {}
        rng = np.random.default_rng([self.seed, 3, i])
        return kind, getattr(self, f"_{kind}")(rng, i)

    def _scd1_customer(self, rng, i):
        n_upd = BATCH_ROWS * 3 // 4
        keys = rng.choice(N_CUSTOMER, n_upd, replace=False) + 1
        new = N_CUSTOMER + 1 + i * BATCH_ROWS + np.arange(BATCH_ROWS - n_upd)
        allk = np.concatenate([keys, new]).astype(np.int64)
        n = len(allk)
        return {"rows": pa.table({
            "c_custkey": allk,
            "c_name": [f"name{k} v{i}" for k in allk],
            "c_email": [f"user{k}.{i}@{_DOMAINS[int(k) % 4]}" for k in allk],
            "c_nationkey": rng.integers(0, N_NATIONS, n).astype(np.int32),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n)],
            "c_acctbal_cents": rng.integers(-99_999, 1_000_000, n),
        })}

    def _scd2_part(self, rng, i):
        keys = np.sort(rng.choice(N_PART, BATCH_ROWS, replace=False) + 1)
        return {"rows": pa.table({
            "p_partkey": keys.astype(np.int64),
            "p_name": [f"part {k} rev {i}" for k in keys],
            "p_brand": [f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (BATCH_ROWS, 2))],
            "p_retailprice_cents": rng.integers(90_000, 210_000, BATCH_ROWS),
        })}

    def _merge_upsert(self, rng, i):
        n_upd = BATCH_ROWS // 2
        upd = rng.choice(self.orders_keys, n_upd, replace=False)
        new = np.arange(BATCH_ROWS - n_upd, dtype=np.int64) * 4 + (
            self.next_order_key + i * BATCH_ROWS * 4
        )
        keys = np.concatenate([upd, new]).astype(np.int64)
        n = len(keys)
        day0 = np.datetime64("1992-01-01")
        return {"rows": pa.table({
            "o_orderkey": keys,
            "o_custkey": rng.integers(1, N_CUSTOMER + 1, n),
            "o_orderstatus": np.array(_STATUS)[rng.integers(0, 3, n)],
            "o_totalprice_cents": rng.integers(100_000, 50_000_000, n),
            "o_orderdate": pa.array(
                day0 + rng.integers(0, 2400, n).astype("timedelta64[D]"), pa.date32()
            ),
            "o_orderpriority": np.array(_PRIORITY)[rng.integers(0, 5, n)],
        })}

    def _merge_delete(self, rng, i):
        keys = rng.choice(self.orders_keys, BATCH_ROWS // 2, replace=False)
        return {"rows": pa.table({"o_orderkey": np.sort(keys).astype(np.int64)})}

    def _update_where(self, rng, i):
        return {"mod": 211, "rem": int(rng.integers(0, 211)), "pct": int(rng.integers(90, 111))}

    def _delete_where(self, rng, i):
        return {"mod": 307, "rem": int(rng.integers(0, 307))}

    def _matview_refresh(self, rng, i):
        return {}
