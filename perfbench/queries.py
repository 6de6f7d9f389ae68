"""The ten headline queries of `__spark_entry__.queries()` (the list
`bench.py` calls HEADLINE), measured as one layer of the traced
`predict_fuzzy` run.

The tables are generated here from the seed at the sizes of scale factor
0.1 (600k lineitem rows, 5,000 documents), with the column names and types
the queries read, and written as one parquet file (one row group) each.
One untimed pass collects every query and compares it with its
`oracle_sql()` on DuckDB; each traced pass then forces every query with
`.count()` under a span of its own.
"""

from __future__ import annotations

import math
import os
from collections import Counter

HEADLINE = [
    "pricing_summary", "top_customers", "region_revenue", "sessionize", "top_words",
    "exact_dedup", "minhash_buckets", "ngram_jaccard_consecutive", "cosine_topk",
    "triples_phrases",
]
TABLES = ["region", "nation", "customer", "orders", "lineitem", "events", "documents", "embeddings"]
CUSTOMERS, ORDERS, LINEITEMS, EVENTS, USERS, DOCUMENTS, VECTORS, DIM = (
    15_000, 150_000, 600_000, 100_000, 1_500, 5_000, 2_000, 64,
)
# sessionize differs from its oracle on most seeds: Spark's unix_timestamp
# drops the fraction of a second that DuckDB's epoch keeps, so a same-user
# gap a fraction of a second above 1800 s starts a session in the oracle
# only. Its comparison goes to the detail line, not to the checks.
KNOWN_MISMATCH = {"sessionize"}
# the documents' words; the four phrases triples_phrases looks for are
# pairs of them ("table hash", "customer join", "part filter", "merge group")
DOC_WORDS = (
    "spark window merge table column vector stream value data small join filter big group "
    "hash customer sort order slow line part fast row the agg key query a scan batch"
).split()


def make_tables(sf_dir: str, seed: int):
    """Write the eight tables under `sf_dir`, drawn from `seed`."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)

    def write(name, columns: dict):
        pq.write_table(pa.table(columns), os.path.join(sf_dir, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def stamps(n, days):
        us = rng.integers(0, days * 86_400_000_000, n)
        return pa.array(np.datetime64("2024-01-01", "us") + us.astype("timedelta64[us]"))

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION{i:02d}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": np.arange(1, CUSTOMERS + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, CUSTOMERS + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, CUSTOMERS), pa.int32()),
        "c_acctbal": money(-999, 9999, CUSTOMERS),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], CUSTOMERS),
    })
    write("orders", {
        "o_orderkey": np.arange(1, ORDERS + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, CUSTOMERS + 1, ORDERS),
        "o_orderstatus": rng.choice(["F", "O", "P"], ORDERS),
        "o_totalprice": money(800, 500_000, ORDERS),
        "o_orderdate": stamps(ORDERS, 2400),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], ORDERS),
    })
    quantity = rng.integers(1, 51, LINEITEMS).astype(np.float64)
    write("lineitem", {
        "l_orderkey": rng.integers(1, ORDERS + 1, LINEITEMS),
        "l_partkey": rng.integers(1, 20_001, LINEITEMS),
        "l_suppkey": rng.integers(1, 1_001, LINEITEMS),
        "l_linenumber": pa.array(rng.integers(1, 8, LINEITEMS), pa.int32()),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900, 2_000, LINEITEMS), 2),
        "l_discount": rng.integers(0, 11, LINEITEMS) / 100.0,
        "l_tax": rng.integers(0, 9, LINEITEMS) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], LINEITEMS),
        "l_linestatus": rng.choice(["F", "O"], LINEITEMS),
        "l_shipdate": stamps(LINEITEMS, 2500),
    })
    us = np.sort(rng.integers(0, 30 * 86_400_000_000, EVENTS))
    write("events", {
        "event_id": np.arange(EVENTS, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + us.astype("timedelta64[us]")),
        "user_id": rng.integers(0, USERS, EVENTS),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], EVENTS),
        "value": money(0, 200, EVENTS),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS)],
    })
    # 1 in 20 documents repeats an earlier one's words in another order
    # (exact_dedup); 1 in 20 copies its predecessor with one word changed
    # and " dup" appended (minhash_buckets, ngram_jaccard_consecutive)
    texts = []
    for i in range(DOCUMENTS):
        kind = rng.integers(0, 20) if i else 2
        if kind == 0:
            words = list(rng.permutation(texts[rng.integers(0, i)].split()))
        elif kind == 1:
            words = texts[i - 1].split()
            words[rng.integers(0, len(words))] = DOC_WORDS[rng.integers(0, len(DOC_WORDS))]
            words.append("dup")
        else:
            words = list(rng.choice(DOC_WORDS, rng.integers(8, 100)))
        texts.append(" ".join(words))
    write("documents", {
        "doc_id": np.arange(DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["de", "en", "en", "es", "fr", "zh"], DOCUMENTS),
        "source": [f"src{i % 20}" for i in range(DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vectors = rng.normal(size=(VECTORS, DIM)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(VECTORS, dtype=np.int64),
        "embedding": pa.array(list(vectors), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, VECTORS), pa.int32()),
    })


def _cell(v) -> str:
    """Cells as the repository's oracle check compares them: floats to six
    significant digits, timestamps in ISO form."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def _rows(cols, rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


class QueryLayer:
    def __init__(self, spark, sf_dir: str, seed: int):
        import __spark_entry__

        self.spark = spark
        self.sf_dir = sf_dir
        self.seed = seed
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.known: list[str] = []  # comparisons of KNOWN_MISMATCH queries that failed

    def setup(self) -> list[str]:
        """Generate the tables and make the untimed pass: collect every
        query and compare it with its oracle on DuckDB. Returns problems."""
        import duckdb

        make_tables(self.sf_dir, self.seed)
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        problems = []
        for name in HEADLINE:
            sdf = self.queries[name](self.spark, self.sf_dir)
            got = _rows(sdf.columns, [tuple(r) for r in sdf.collect()])
            rel = con.sql(self.oracles[name])
            want = _rows(rel.columns, rel.fetchall())
            if not got:
                problems.append(f"query {name}: no rows")
            if sorted(sdf.columns) != sorted(rel.columns) or got != want:
                diff = sum((Counter(got) - Counter(want)).values())
                message = f"query {name}: {diff} of {len(got)} rows not in its oracle's {len(want)}"
                (self.known if name in KNOWN_MISMATCH else problems).append(message)
        con.close()
        return problems

    def timed_pass(self, tracer) -> dict[str, float]:
        """Force each query with .count() under its own span; returns
        `query.<name>.s` self times."""
        root = len(tracer.spans)
        with tracer.span("queries"):
            for name in HEADLINE:
                with tracer.span(f"query.{name}"):
                    self.queries[name](self.spark, self.sf_dir).count()
        self_times = tracer.self_times(root)
        return {f"query.{name}.s": self_times[f"query.{name}"] for name in HEADLINE}
