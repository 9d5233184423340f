"""Seeded input generators. Pure functions: the same arguments give the
same tables and op lists, and nothing here touches Spark or the disk.

Three kinds of input:

* ``star_tables`` -- the sf0.1 star schema (row counts and column types
  of the engine's fixture tables) that ``bi_sql`` loads.
* ``bi_ops`` -- the parameterized analyst SQL stream over those tables.
* ``shard`` -- one curation shard (documents + embeddings) with a known
  set of planted near-duplicate pairs.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

# -- star schema --------------------------------------------------------

SF01_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EPOCH = np.datetime64("1995-01-01")
ORDER_DAYS = 2404  # order dates span 1995-01-01 .. 2001-08-01


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices)[rng.integers(0, len(choices), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((EPOCH + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def star_tables(seed: int) -> dict[str, pa.Table]:
    """The seven-table star schema at sf0.1 (~600k lineitems)."""
    rng = np.random.default_rng([seed, 1])
    n = SF01_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
        "c_name": _names("Customer", n["customer"]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"], dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
        "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
        "s_name": _names("Supplier", n["supplier"]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"], dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
    })
    partkey = np.arange(n["part"], dtype=np.int64)
    retail = np.round(900 + (partkey % 1000) / 10, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(partkey),
        "p_name": _pick(rng, ["red bolt", "blue ring", "hot plate", "old nut"], n["part"]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                        n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"], dtype=np.int32)),
        "p_retailprice": pa.array(retail),
    })
    n_orders = n["orders"]
    order_day = rng.integers(0, ORDER_DAYS, n_orders)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n_orders)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": pa.array(_money(rng, 900.0, 500_000.0, n_orders)),
        "o_orderdate": _ts(order_day),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
    })
    lines = rng.integers(1, 8, n_orders)  # 1..7 lines, ~600k in total
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n_li = len(okey)
    linenumber = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    pkey = rng.integers(0, n["part"], n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(pkey),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], n_li)),
        "l_linenumber": pa.array(linenumber.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * retail[pkey], 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100, 2)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(np.repeat(order_day, lines) + rng.integers(1, 122, n_li)),
    })
    return t


# -- bi_sql op stream ---------------------------------------------------

# Exact-arithmetic conventions of queries/tables.py: money is summed as
# floored integer cents (BIGINT on both engines), so Spark and DuckDB
# agree bit for bit and ORDER BY revenue has no float ties; every
# ORDER BY ... LIMIT ends in a unique key.
_CENTS = "CAST(SUM(CAST(floor({x} * 100) AS BIGINT)) AS BIGINT)"
_REV = "l_extendedprice * (1 - l_discount)"

TEMPLATES: dict[str, str] = {
    "q1_pricing": f"""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
               {_CENTS.format(x="l_extendedprice")} AS sum_base_cents,
               {_CENTS.format(x=_REV)} AS sum_disc_cents,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= DATE '{{d0}}'
        GROUP BY l_returnflag, l_linestatus""",
    "q3_shipping": f"""
        SELECT l_orderkey, o_orderpriority,
               {_CENTS.format(x=_REV)} AS revenue_cents
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = '{{segment}}'
          AND o_orderdate < DATE '{{d0}}' AND l_shipdate > DATE '{{d0}}'
        GROUP BY l_orderkey, o_orderpriority
        ORDER BY revenue_cents DESC, l_orderkey
        LIMIT 10""",
    "q5_local_supplier": f"""
        SELECT n_name, {_CENTS.format(x=_REV)} AS revenue_cents
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = '{{region}}'
          AND o_orderdate >= DATE '{{d0}}' AND o_orderdate < DATE '{{d1}}'
        GROUP BY n_name""",
    "q6_forecast": f"""
        SELECT {_CENTS.format(x="l_extendedprice * l_discount")} AS revenue_cents,
               COUNT(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= DATE '{{d0}}' AND l_shipdate < DATE '{{d1}}'
          AND l_discount BETWEEN CAST({{disc_lo}} AS DOUBLE)
                             AND CAST({{disc_hi}} AS DOUBLE)
          AND l_quantity < {{qty}}""",
    "topk_customers": f"""
        SELECT o_custkey, c_name,
               {_CENTS.format(x="o_totalprice")} AS spend_cents,
               COUNT(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderpriority = '{{priority}}'
          AND o_orderdate >= DATE '{{d0}}' AND o_orderdate < DATE '{{d1}}'
        GROUP BY o_custkey, c_name
        ORDER BY spend_cents DESC, o_custkey
        LIMIT 20""",
    "distinct_parts": """
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS n_parts,
               COUNT(DISTINCT l_suppkey) AS n_suppliers
        FROM lineitem
        WHERE l_shipdate >= DATE '{d0}' AND l_shipdate < DATE '{d1}'
          AND l_quantity >= {qty}
        GROUP BY l_returnflag""",
}


def _day(offset: int) -> str:
    return (dt.date(1995, 1, 1) + dt.timedelta(days=int(offset))).isoformat()


def _params(name: str, rng: np.random.Generator) -> dict:
    d = int(rng.integers(0, ORDER_DAYS - 400))
    p = {"d0": _day(d)}
    if name == "q3_shipping":
        p["segment"] = SEGMENTS[rng.integers(0, 5)]
    elif name == "q5_local_supplier":
        p.update(region=REGIONS[rng.integers(0, 5)], d1=_day(d + 365))
    elif name == "q6_forecast":
        lo = int(rng.integers(2, 9))
        p.update(d1=_day(d + 365), disc_lo=f"0.0{lo - 1}", disc_hi=f"0.0{lo + 1}",
                 qty=int(rng.integers(24, 31)))
    elif name == "topk_customers":
        p.update(priority=PRIORITIES[rng.integers(0, 5)], d1=_day(d + 180))
    elif name == "distinct_parts":
        p.update(d1=_day(d + 90), qty=int(rng.integers(10, 40)))
    return p


def bi_ops(seed: int, passes: dict[str, int]) -> dict[str, list[tuple[str, str]]]:
    """(template, sql) ops per phase. Every phase is a whole number of
    passes, and a pass runs each template once in a fixed order, so
    every seed gives the same op sequence and length. No SQL text
    appears twice in the whole stream: the warm pass never primes a
    query the timed window runs."""
    rng = np.random.default_rng([seed, 2])
    seen: set[str] = set()
    out: dict[str, list[tuple[str, str]]] = {}
    for phase, n_passes in passes.items():
        ops = []
        for _ in range(n_passes):
            for name, tmpl in TEMPLATES.items():
                sql = tmpl.format(**_params(name, rng))
                while sql in seen:
                    sql = tmpl.format(**_params(name, rng))
                seen.add(sql)
                ops.append((name, sql))
        out[phase] = ops
    return out


# -- curation shards ----------------------------------------------------

VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data join vector customer index page token model train corpus shard"
).split()
STOP = ["the", "a", "of", "and", "to", "in", "is", "it"]
LANGS = ["en", "zh", "es", "fr", "de"]
DOCS_PER_SHARD = 1000
VECS_PER_SHARD = 400
PLANTED_PER_SHARD = 8
OVERLAPS_PER_SHARD = 40
DIM = 64


def _text(rng: np.random.Generator, n_words: int) -> str:
    words = np.where(
        rng.random(n_words) < 0.2,
        np.asarray(STOP)[rng.integers(0, len(STOP), n_words)],
        np.asarray(VOCAB)[rng.integers(0, len(VOCAB), n_words)],
    ).tolist()
    for i in rng.integers(0, n_words, max(1, n_words // 15)):
        words[i] += "."
    return " ".join(words)


def shard(seed: int, index: int, base_id: int = 0) -> tuple[pa.Table, pa.Table, dict]:
    """One curation shard: (documents, embeddings, planted).

    Ids are rising and disjoint across shard indexes (``base_id`` +
    index * shard size), as fresh ingest batches are. ``planted`` holds
    the near-duplicate pairs the generator made:

    * ``doc_pairs``: a long document and the same text with one word
      appended (3-shingle Jaccard >= 0.99, so MinHash-LSH finds it
      with near certainty);
    * ``vec_pairs``: a vector and a slightly perturbed copy
      (cosine ~0.99).
    """
    rng = np.random.default_rng([seed, 3, index])
    doc0 = base_id + index * DOCS_PER_SHARD
    n_words = rng.integers(20, 90, DOCS_PER_SHARD)
    slots = rng.permutation(DOCS_PER_SHARD)[: 2 * PLANTED_PER_SHARD].reshape(-1, 2)
    n_words[slots[:, 0]] = rng.integers(110, 130, PLANTED_PER_SHARD)
    texts = [_text(rng, int(k)) for k in n_words]
    for a, b in slots:
        texts[b] = texts[a] + " " + VOCAB[rng.integers(0, len(VOCAB))]
    # Partial overlaps (half of a document reused, Jaccard ~0.3) give
    # LSH candidates that the exact verify rejects.
    taken = set(slots.ravel().tolist())
    free = [k for k in rng.permutation(DOCS_PER_SHARD).tolist() if k not in taken]
    for a, b in zip(free[:OVERLAPS_PER_SHARD], free[OVERLAPS_PER_SHARD:2 * OVERLAPS_PER_SHARD]):
        words = texts[a].split()
        texts[b] = " ".join(words[: len(words) // 2]) + " " + _text(rng, len(words) // 2 + 1)
    lang = np.asarray(LANGS)[rng.choice(5, DOCS_PER_SHARD, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    docs = pa.table({
        "doc_id": pa.array(np.arange(doc0, doc0 + DOCS_PER_SHARD, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, DOCS_PER_SHARD)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    vec0 = index * VECS_PER_SHARD
    vecs = rng.standard_normal((VECS_PER_SHARD, DIM))
    vslots = rng.permutation(VECS_PER_SHARD)[: 2 * PLANTED_PER_SHARD].reshape(-1, 2)
    vecs[vslots[:, 1]] = vecs[vslots[:, 0]] + 0.1 * rng.standard_normal((PLANTED_PER_SHARD, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(vec0, vec0 + VECS_PER_SHARD, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, VECS_PER_SHARD, dtype=np.int32)),
    })
    planted = {
        "doc_pairs": {tuple(sorted((doc0 + int(a), doc0 + int(b)))) for a, b in slots},
        "vec_pairs": {tuple(sorted((vec0 + int(a), vec0 + int(b)))) for a, b in vslots},
    }
    return docs, emb, planted


# -- curated-corpus table ops -------------------------------------------

BASE_DOCS = 20_000  # rows the lakehouse table is created with
SHARD_BASE_ID = BASE_DOCS  # shard doc ids continue after the base rows
LAKE_CYCLE = (
    "curate", "append", "point", "range", "merge", "point",
    "delete", "range", "agg", "compact", "point",
)


def base_docs(seed: int) -> pa.Table:
    """Rows the curated-corpus table starts with (doc ids 0..BASE_DOCS)."""
    rng = np.random.default_rng([seed, 4])
    n = BASE_DOCS
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "lang": pa.array(np.asarray(LANGS)[rng.integers(0, 5, n)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(rng.integers(100, 600, n)),
        "quality_score": pa.array(np.round(rng.uniform(0.3, 0.6, n), 6)),
    })


def lake_ops(seed: int, shard_index: int) -> list[tuple]:
    """One op cycle around ingesting shard ``shard_index``: curate the
    shard, append its survivors, then reads, a merge and a delete on the
    recent (clustered) key range, a full aggregate, and a compaction
    (every cycle commits three times, so compaction runs every three
    commits). Pure: depends only on (seed, shard_index)."""
    rng = np.random.default_rng([seed, 5, shard_index])
    lo = SHARD_BASE_ID + shard_index * DOCS_PER_SHARD
    hi = lo + DOCS_PER_SHARD
    ops = []
    for kind in LAKE_CYCLE:
        if kind in ("curate", "append"):
            ops.append((kind, shard_index))
        elif kind == "point":
            ops.append((kind, int(rng.integers(0, hi))))
        elif kind == "range":
            a = int(rng.integers(max(0, lo - 2000), hi - 300))
            ops.append((kind, a, a + 300))
        elif kind == "merge":
            a = int(rng.integers(lo, hi - 100))
            ops.append((kind, a, a + 100, float(rng.choice([0.9, 0.95, 1.05]))))
        elif kind == "delete":
            a = int(rng.integers(lo, hi - 200))
            ops.append((kind, a, a + 200, float(np.round(rng.uniform(0.42, 0.48), 3))))
        else:
            ops.append((kind,))
    return ops
