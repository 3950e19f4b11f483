"""Seeded inputs for the benchmark's workloads.

Every graph and corpus here derives from the run's ``--seed``; the same
seed gives the same inputs. The reference trio (chain_500,
cluster_20x50, random_5000) is not here: it stays at the reference's
seed 42 because its iteration-count goldens hold only for that graph.

Corpora are column expressions over ``spark.range`` (nothing is built
in the Spark driver); the star schema is written once per run as parquet by
NumPy and pyarrow, in the layout ``sources.io.read_table`` reads.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

# ------------------------------------------------------------ corpora


def _tok(j, anchor, seed: int, tag: str):
    """One pseudo-random base-36 token drawn from (j, anchor, seed)."""
    return F.conv(
        F.hex(F.abs(F.xxhash64(F.lit(j), anchor, F.lit(seed), F.lit(tag)))),
        16,
        36,
    )


def span_corpus(spark, n_docs: int, seed: int):
    """30-token docs; every ``id % 10 == 9`` doc shares an identical
    12-token span (positions 11..22) with doc ``id - 1``. With k=8 the
    exact answer is one span per planted pair, excised from the higher
    doc id, covering 5 eight-grams."""
    doc = F.col("doc_id")
    gid = doc - (doc % 10 == 9).cast("long")
    toks = (
        [_tok(j, doc, seed, "u") for j in range(10)]
        + [_tok(j, gid, seed, "s") for j in range(12)]
        + [_tok(j + 100, doc, seed, "u") for j in range(8)]
    )
    return spark.range(n_docs).select(F.col("id").alias("doc_id")).select(
        "doc_id", F.concat_ws(" ", *toks).alias("text")
    )


def near_dup_corpus(spark, n_docs: int, seed: int):
    """20-token docs; every ``id % 10 == 9`` doc repeats doc ``id - 1``
    but for its last token. Token 3-gram shingles give the pair Jaccard
    17/19, which 8 LSH bands of 4 MinHash rows catch with probability
    1 - (1 - (17/19)^4)^8 > 0.9997: with a few hundred planted pairs
    the 0.985 recall floor is then a check, not a coin flip (at 12
    tokens, Jaccard 9/11, a 600-pair corpus misses it once in ~20)."""
    doc = F.col("doc_id")
    is_var = (doc % 10) == 9
    gid = F.when(is_var, doc - 1).otherwise(doc)
    toks = [_tok(j, gid, seed, "d") for j in range(19)]
    last = _tok(19, F.concat(gid.cast("string"), is_var.cast("string")),
                seed, "d")
    return spark.range(n_docs).select(F.col("id").alias("doc_id")).select(
        "doc_id", F.concat_ws(" ", *toks, last).alias("text")
    )


BM25_VOCAB = 400


def bm25_corpus(spark, n_docs: int, seed: int):
    """12 words per doc over a bounded ``BM25_VOCAB``-word vocabulary."""
    toks = [
        F.concat(
            F.lit("w"),
            F.pmod(
                F.xxhash64(F.lit(j), F.col("doc_id"), F.lit(seed)),
                F.lit(BM25_VOCAB),
            ).cast("string"),
        )
        for j in range(12)
    ]
    return spark.range(n_docs).select(F.col("id").alias("doc_id")).select(
        "doc_id", F.concat_ws(" ", *toks).alias("text")
    )


def bm25_terms(seed: int) -> list[str]:
    rng = np.random.default_rng(seed)
    picks = rng.choice(BM25_VOCAB, size=3, replace=False)
    return [f"w{int(i)}" for i in picks]


# -------------------------------------------------------- star schema

# sf0.01 row counts of the star-schema test tables (FIXTURES.md)
SF001_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_P_ADJ = ("large", "hot", "blue", "small", "red", "green", "dim", "new")
_P_NOUN = ("ring", "bolt", "cog", "tube", "disk", "plate", "rod", "widget")
_P_TYPE = ("LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_LANGS = ("en", "es", "de", "fr", "zh")
_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark a "
    "the line sort window column order small group join filter index page "
    "block cache shuffle plan query data big customer stream"
).split()
_US_PER_DAY = 86_400 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, options, n: int) -> list[str]:
    return [options[i] for i in rng.integers(0, len(options), n)]


def star_schema_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten star-schema tables at ``scale`` x sf0.01, with the names
    and types of the star-schema test tables (FIXTURES.md)."""
    rng = np.random.default_rng(seed)
    n = {t: max(1, round(c * scale)) for t, c in SF001_ROWS.items()}
    base_1992 = np.datetime64("1992-01-01", "us").astype("int64")
    base_2024 = np.datetime64("2024-01-01", "us").astype("int64")
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, _SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    price = np.round(900.0 + rng.integers(0, 110_000, npart) / 100.0, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(
            _pick(rng, _P_ADJ, npart), _pick(rng, _P_NOUN, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": _pick(rng, _P_TYPE, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": price,
    })
    no = n["orders"]
    odate = base_1992 + rng.integers(0, 2_400, no) * _US_PER_DAY
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(rng, ("O", "F", "P"), no),
        "o_totalprice": _money(rng, 1_000.0, 500_000.0, no),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _pick(rng, _PRIORITIES, no),
    })
    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no), lines)
    nl = len(okey)
    linenumber = np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    pkey = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pkey], 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
        "l_linestatus": _pick(rng, ("O", "F"), nl),
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, nl) * _US_PER_DAY),
    })
    ne = n["events"]
    gaps = rng.exponential(300.0, ne) * 1_000_000
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(base_2024 + np.cumsum(gaps).astype("int64")),
        "user_id": pa.array(rng.integers(0, max(10, ne // 100), ne), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, ne),
        "value": np.round(rng.uniform(0.0, 200.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = [
        " ".join(_pick(rng, _WORDS, int(k)))
        for k in rng.integers(10, 101, nd)
    ]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": _pick(rng, _LANGS, nd),
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    nv = n["embeddings"]
    vecs = (rng.standard_normal((nv, 64)) * 0.12).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return t


def write_star_schema(out_dir: str, seed: int, scale: float) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_schema_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
