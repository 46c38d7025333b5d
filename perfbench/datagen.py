"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pyarrow on the driver or column
expressions over ``spark.range``: the engine only ever sees the
generated inputs, and the same seed reproduces them exactly.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- TPC-H-style star schema (the declared-query tables) -------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_WORDS = (["small", "red", "blue", "hot", "old", "large", "green", "cold"],
               ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "pin"])
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
          "spark line sort window order data column join small customer query "
          "stream big filter group").split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _cents(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _ts(us: np.ndarray, unit: str) -> pa.Array:
    arr = pa.array(us, type=pa.timestamp("us"))
    return arr.cast(pa.timestamp(unit)) if unit != "us" else arr


def tpch_tables(sf: float, seed: int) -> dict:
    """The ten base tables of the declared queries at scale `sf`, with
    the schemas and value domains of the repository's TPC-H-style test
    data and uniformly random keys."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_li = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 1000)
    n_users = max(int(15_000 * sf), 50)
    n_docs = max(int(50_000 * sf), 500)
    n_vecs = max(int(20_000 * sf), 500)

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)
    w0, w1 = _PART_WORDS
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{w0[a]} {w1[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": retail,
    })
    # ~1/3 of customers never order (the anti-join has rows to count)
    ordering = rng.permutation(n_cust)[: max(1, (2 * n_cust) // 3)]
    o_date = _EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": ordering[rng.integers(0, len(ordering), n_ord)].astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(o_date, "ms"),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": l_part.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n_li) * _DAY_US, "ms"),
    })
    ev_ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_ts, "us"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    lens = rng.integers(10, 100, n_docs)
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in lens]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, 5, n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    emb = rng.normal(0.0, 0.12, (n_vecs, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    })
    return t


def write_tpch(out_dir: str, sf: float, seed: int, only: tuple = ()) -> int:
    """Write the ten tables (or those named in `only`) as
    `<out_dir>/<name>.parquet`; returns the lineitem row count."""
    os.makedirs(out_dir, exist_ok=True)
    tables = tpch_tables(sf, seed)
    for name, tbl in tables.items():
        if only and name not in only:
            continue
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return tables["lineitem"].num_rows


# -- column-expression generators (distributed workloads) ------------------


def near_dup_docs(spark, n_docs: int, seed: int):
    """`n_docs` documents; every (2k, 2k+1) pair shares 24 of its 25
    tokens (Jaccard ~0.92): n_docs/2 planted near-duplicate pairs.
    One pair in eight is an exact duplicate, so exact dedup has groups."""
    from pyspark.sql import functions as F

    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.expr(
                f"transform(sequence(0, 23), p -> concat('w', "
                f"pmod(xxhash64(id - id % 2, p, {seed}), 50000)))"
            ),
            F.expr(
                "array(CASE WHEN pmod(id DIV 2, 8) = 0 THEN 'same' "
                "ELSE concat('u', id) END)"
            ),
        ).alias("text"),
    )


def vectors_with_probes(spark, n: int, dim: int, n_probes: int, seed: int):
    """(corpus, probes, truth): `n` uniform `dim`-d vectors and
    `n_probes` probes, each a corpus vector plus +-0.005 noise, so the
    planted id is the exact top-1 by construction."""
    from pyspark.sql import functions as F

    comps = [
        (F.pmod(F.xxhash64("id", F.lit(seed), F.lit(d + 1)), F.lit(2001)) - 1000) / 1000.0
        for d in range(dim)
    ]
    corpus = spark.range(n).select(
        F.col("id").alias("vec_id"), F.array(*comps).alias("embedding")
    )
    stride = max(n // n_probes, 1)
    pr = corpus.filter(F.col("vec_id") % stride == 0).select(
        (F.col("vec_id") + 1_000_000_000).alias("vec_id"),
        F.expr(
            f"transform(embedding, (x, i) -> "
            f"x + (pmod(xxhash64(vec_id, i, {seed}), 21) - 10) / 2000.0)"
        ).alias("embedding"),
        F.col("vec_id").alias("planted"),
    )
    return corpus, pr


TPROP_EPOCH = 1704067200  # 2024-01-01 UTC
TPROP_SPAN = 730 * 86400  # two years


def change_points(spark, n_rows: int, n_entities: int, seed: int, offset: int = 0,
                  epoch: int = TPROP_EPOCH, span: int = TPROP_SPAN):
    """Temporal change-point log (entity_id, prop, ts, value, seq) with
    two properties p0/p1 and ts uniform over `span` seconds from `epoch`.
    Rows are keyed by `offset + id`, so appends never repeat a base row."""
    from pyspark.sql import functions as F

    rid = F.col("id") + F.lit(offset)
    return spark.range(n_rows).select(
        (rid % n_entities).alias("entity_id"),
        F.concat(F.lit("p"), (F.floor(rid / n_entities) % 2).cast("string")).alias("prop"),
        F.timestamp_seconds(
            F.lit(epoch) + F.pmod(F.xxhash64(rid, F.lit(seed), F.lit(11)), F.lit(span))
        ).alias("ts"),
        (F.pmod(F.xxhash64(rid, F.lit(seed), F.lit(12)), F.lit(10000)) / 100.0).alias("value"),
        rid.cast("long").alias("seq"),
    )
