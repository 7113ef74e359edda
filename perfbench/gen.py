"""Seeded input generator for the graft benchmark.

Writes the tables the workloads read (`lineitem`, `orders`, `documents`,
`embeddings`) as parquet with the names, columns, types, row counts and
value distributions of the project's sf0.1 test corpus: uniform keys,
dates and measures over the corpus's ranges; documents drawn from its
30-word vocabulary with 5 % near-duplicates (another document plus the
word `dup`); isotropic unit embeddings with labels independent of the
vectors. The seed alone decides every value, so the same seed gives
byte-identical inputs.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ORDERS = 150_000
N_LINEITEM = 600_000
N_CUSTOMER = 15_000
N_PART = 20_000
N_SUPP = 1_000
N_DOCS = 5_000
N_VECS = 2_000
DIM = 64
N_LABELS = 10

ORDER_DATES = (np.datetime64("1995-01-01", "D"), np.datetime64("2001-08-01", "D"))
SHIP_DATES = (np.datetime64("1995-01-02", "D"), np.datetime64("2001-11-04", "D"))

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
DOC_WORDS = (10, 99)
NEAR_DUP_SHARE = 0.05
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _dates(rng, span, n):
    """`n` midnight timestamps uniform over the inclusive day range `span`."""
    lo, hi = span
    days = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return pa.array((lo + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def orders(rng, n=N_ORDERS, key0=0):
    """`n` orders with dense keys starting at `key0`."""
    return pa.table({
        "o_orderkey": pa.array(np.arange(key0, key0 + n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, n, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
        "o_orderdate": _dates(rng, ORDER_DATES, n),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
    })


def lineitem(rng):
    """Every column independent and uniform, as in the corpus: the extended
    price is not quantity × unit price, and ship dates ignore order dates."""
    n = N_LINEITEM
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, N_PART, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(_money(rng, 0.0, 0.1, n)),
        "l_tax": pa.array(_money(rng, 0.0, 0.08, n)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _dates(rng, SHIP_DATES, n),
    })


def documents(rng):
    """Word-soup documents; a seeded 5 % of the slots are then overwritten
    with another slot's original text plus the word `dup` (near-duplicates;
    two picks of one source make the corpus's few exact duplicates)."""
    n = N_DOCS
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), int(rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1)))])
             for _ in range(n)]
    slots = rng.choice(n, int(n * NEAR_DUP_SHARE), replace=False)
    sources = rng.integers(0, n, len(slots))
    base = list(texts)
    for slot, src in zip(slots, sources):
        texts[slot] = base[src] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng):
    """Unit vectors uniform on the sphere; labels uniform and unrelated."""
    n = N_VECS
    v = rng.normal(0.0, 1.0, (n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_LABELS, n, dtype=np.int32)),
    })


TABLES = {"lineitem": lineitem, "orders": orders, "documents": documents,
          "embeddings": embeddings}


def write_tables(out_dir, names, seed):
    """Write each named table to `<out_dir>/<name>.parquet`; one RNG stream
    per table so adding a table never changes another's values."""
    for name in names:
        rng = np.random.default_rng([seed, list(TABLES).index(name)])
        pq.write_table(TABLES[name](rng), f"{out_dir}/{name}.parquet")
