"""Tables for the query_mix workload, and the DuckDB oracle that checks
the rows' results.

The tables are drawn from the workload seed with the shape measured on the
repository's test data at scale factor 0.01 (README.md, "Tables"): the same
row counts, value ranges and distributions, the same 30-word document
vocabulary with 10 to 99 words a document, and the same near-duplicate
rule (one document in 20 is another document plus the word "dup").
"""
import functools
import hashlib
import importlib.util
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SELFCHECK = Path(__file__).resolve().parent.parent / "scripts" / "selfcheck.py"
SIZES = {"customer": 1500, "orders": 15000, "lineitem": 60000,
         "events": 10000, "documents": 500}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
DUP_EVERY = 20


def _ts(base, seconds):
    return pa.array(np.datetime64(base, "us") + (seconds * 1e6).astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def generate(seed, out_dir):
    """Write every table as one parquet file under out_dir."""
    rng = np.random.default_rng(seed)
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    n = SIZES
    day = 86400.0

    cust = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"], dtype=np.int32)),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n["customer"]), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n["customer"])],
    })
    odate = rng.integers(0, 2400, n["orders"]) * day
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n["orders"], dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"], dtype=np.int64)),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n["orders"])],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n["orders"]), 2),
        "o_orderdate": _ts("1995-01-01", odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n["orders"])],
    })
    lok = rng.integers(0, n["orders"], n["lineitem"])
    lineitem = pa.table({
        "l_orderkey": pa.array(lok.astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, 2000, n["lineitem"], dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 100, n["lineitem"], dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"], dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n["lineitem"]), 2),
        "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
        "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n["lineitem"])],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n["lineitem"])],
        "l_shipdate": _ts("1995-01-01", rng.integers(1, 2500, n["lineitem"]) * day),
    })
    ne = n["events"]
    events = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * day, ne))),
        "user_id": pa.array(rng.integers(0, 150, ne, dtype=np.int64)),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(np.maximum(rng.exponential(50.0, ne), 0.01), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    texts = [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 100))))
             for _ in range(n["documents"])]
    # near-duplicates: one document in DUP_EVERY becomes a copy of another
    # plus " dup", one after another, so copies of copies occur
    for _ in range(n["documents"] // DUP_EVERY):
        i, j = rng.choice(n["documents"], 2, replace=False)
        texts[i] = texts[j] + " dup"
    docs = pa.table({
        "doc_id": pa.array(np.arange(n["documents"], dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n["documents"])],
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    for name, table in [("customer", cust), ("orders", orders), ("lineitem", lineitem),
                        ("events", events), ("documents", docs)]:
        pq.write_table(table, out / f"{name}.parquet")


@functools.cache
def selfcheck():
    """The repository's reference checker, scripts/selfcheck.py, as a
    module: its normaliser is the one the benchmark compares results with."""
    spec = importlib.util.spec_from_file_location("selfcheck", SELFCHECK)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def normalised(rel):
    """A DuckDB result as scripts/selfcheck.py compares it: the sorted
    column names, and the rows with columns by name, doubles to 4 dp, -0.0
    and NaN made canonical, as a sorted multiset."""
    cols = [c[0] for c in rel.description]
    return sorted(cols), selfcheck().rows_of(cols, rel.fetchall())


def digest(result):
    return hashlib.sha256(repr(result).encode()).hexdigest()[:12]


def check(data_dir, oracle_sql, results):
    """Compare each execution's result with its row's oracle query.

    results maps (row, pass) to the directory of that execution's parquet
    result. Returns {(row, pass): None if equal, else the reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in sorted(Path(data_dir).glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    expected = {}
    out = {}
    for (name, pass_id), d in sorted(results.items()):
        try:
            if name not in expected:
                expected[name] = normalised(con.execute(oracle_sql[name]))
            got = normalised(con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')"))
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            out[(name, pass_id)] = f"{type(e).__name__}: {e}"
            continue
        exp = expected[name]
        out[(name, pass_id)] = None if got == exp else \
            f"{len(got[1])} rows, {digest(got)} != oracle {len(exp[1])} rows, {digest(exp)}"
    return out
