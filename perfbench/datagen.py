"""Seeded synthetic inputs for the benchmark.

Writes a TPC-H-shaped star schema plus an `events` stream and a
`documents` corpus as one parquet file per table. The same seed and scale
always give byte-identical tables. Column names and types follow the
engine's test fixtures, so the default validation rules and the profiler
see the same column buckets they see there.

The corpus is built so that its near-duplicate structure is known:
base documents draw words from a large synthetic vocabulary (unrelated
documents share almost no word 3-grams), and about one in ten documents is
a copy of an earlier one with a single word replaced (word-3-gram Jaccard
about 0.9).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents"]

# Rows per table at scale 1.0 (region and nation are fixed-size).
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
             "documents": 50_000}

LANG_WORDS = {
    "en": "the and of to in is it you that he was for on are with as his they "
          "be at one have this from or had by word but what some we can out".split(),
    "de": "der die das und ist nicht ein eine ich sie wir ihr haben sein werden "
          "wurde zeit jahr tag welt leben wasser sprache zwischen durch nach".split(),
    "es": "el la que de no a los se del las un por con una su para es al lo "
          "como pero sus le ya este porque esta entre cuando muy sin sobre".split(),
    "fr": "le de un et il ne je son que se qui ce dans en du elle au pour pas "
          "vous par sur faire plus dire me on mon lui nous comme mais avec".split(),
}

EPOCH_US = np.datetime64("1970-01-01T00:00:00", "us")


def rng(seed, table):
    return np.random.default_rng([seed, ALL_TABLES.index(table)])


def rows(table, scale):
    return {"region": 5, "nation": 25}.get(
        table, max(10, int(round(BASE_ROWS.get(table, 0) * scale))))


def with_nulls(r, arr, share):
    """Arrow array from numpy values with `share` of entries null."""
    mask = r.random(len(arr)) < share
    return pa.array(arr, mask=mask)


def money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def ts(base, offsets_us):
    return pa.array((np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]")),
                    type=pa.timestamp("us"))


def gen_region(seed, scale):
    return pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})


def gen_nation(seed, scale):
    r = rng(seed, "nation")
    names = ["NATION_%02d_%s" % (i, "".join(r.choice(list("ABCDEFGHIJ"), 4)))
             for i in range(25)]
    return pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": names,
                     "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})


def gen_customer(seed, scale):
    r, n = rng(seed, "customer"), rows("customer", scale)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": ["Customer#%09d" % i for i in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": with_nulls(r, money(r, -999.99, 9999.99, n), 0.01),
        "c_mktsegment": pa.array(segs[r.integers(0, 5, n)])})


def gen_supplier(seed, scale):
    r, n = rng(seed, "supplier"), rows("supplier", scale)
    return pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": ["Supplier#%09d" % i for i in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n, dtype=np.int32)),
        "s_acctbal": pa.array(money(r, -999.99, 9999.99, n))})


def gen_part(seed, scale):
    r, n = rng(seed, "part"), rows("part", scale)
    colors = np.array("almond antique aquamarine azure beige bisque black blanched "
                      "blue blush brown burlywood chartreuse chocolate coral".split())
    types = np.array(["%s %s %s" % (a, b, c)
                      for a in ("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY")
                      for b in ("ANODIZED", "BURNISHED", "PLATED")
                      for c in ("TIN", "NICKEL", "BRASS", "STEEL")])
    w = colors[r.integers(0, len(colors), (n, 3))]
    return pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": [" ".join(x) for x in w],
        "p_brand": ["Brand#%d%d" % (a, b) for a, b in r.integers(1, 6, (n, 2))],
        "p_type": pa.array(types[r.integers(0, len(types), n)]),
        "p_size": pa.array(r.integers(1, 51, n, dtype=np.int32)),
        "p_retailprice": pa.array(money(r, 900.0, 2100.0, n))})


def gen_orders(seed, scale):
    r, n = rng(seed, "orders"), rows("orders", scale)
    pri = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, rows("customer", scale), n, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n)]),
        "o_totalprice": with_nulls(r, money(r, 850.0, 550_000.0, n), 0.005),
        "o_orderdate": ts("1992-01-01", r.integers(0, 2400, n) * 86_400_000_000),
        "o_orderpriority": pa.array(pri[r.integers(0, 5, n)])})


def gen_lineitem(seed, scale):
    r, n = rng(seed, "lineitem"), rows("lineitem", scale)
    qty = r.integers(1, 51, n).astype(np.float64)
    t = pa.table({
        "l_orderkey": pa.array(r.integers(0, rows("orders", scale), n, dtype=np.int64)),
        "l_partkey": pa.array(r.integers(0, rows("part", scale), n, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, rows("supplier", scale), n, dtype=np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * money(r, 900.0, 2100.0, n), 2)),
        "l_discount": with_nulls(r, r.integers(0, 11, n) / 100.0, 0.01),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n)]),
        "l_shipdate": ts("1992-01-02", r.integers(0, 2500, n) * 86_400_000_000)})
    # Exact duplicate rows (0.2%), so the profile's duplicate pass finds
    # real groups.
    dup = np.sort(r.choice(n, max(1, n // 500), replace=False))
    return pa.concat_tables([t, t.take(pa.array(dup))])


def gen_events(seed, scale):
    r, n = rng(seed, "events"), rows("events", scale)
    kinds = np.array(["click", "view", "purchase", "signup", "error"])
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": ts("2024-01-01", np.sort(r.integers(0, 30 * 86_400_000_000, n))),
        "user_id": pa.array(r.integers(0, max(2, n // 50), n, dtype=np.int64)),
        "event_type": pa.array(kinds[r.integers(0, 5, n)]),
        "value": with_nulls(r, money(r, 0.0, 500.0, n), 0.02),
        "props": ['{"k": %d}' % k for k in r.integers(0, 100, n)]})


def gen_documents(seed, scale):
    r, n = rng(seed, "documents"), rows("documents", scale)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({"".join(letters[r.integers(0, 26, k)])
                    for k in r.integers(4, 10, 4000)})
    langs = sorted(LANG_WORDS)
    texts, doc_langs = [], []
    for i in range(n):
        if i >= 10 and r.random() < 0.1:
            # Near-duplicate: copy an earlier document, replace one word.
            src = int(r.integers(0, i))
            words = texts[src].split(" ")
            pos = int(r.integers(len(words) // 3, 2 * len(words) // 3))
            words[pos] = vocab[int(r.integers(0, len(vocab)))]
            texts.append(" ".join(words))
            doc_langs.append(doc_langs[src])
            continue
        lang = langs[int(r.integers(0, len(langs)))]
        common = LANG_WORDS[lang]
        k = int(r.integers(50, 90))
        pick = r.random(k) < 0.5
        words = [common[int(r.integers(0, len(common)))] if p
                 else vocab[int(r.integers(0, len(vocab)))] for p in pick]
        texts.append(" ".join(words))
        doc_langs.append(lang)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": doc_langs,
        "source": ["src%d" % k for k in r.integers(0, 5, n)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})


def generate(out_dir, seed, scale, tables):
    """Write each of `tables` as <out_dir>/<table>.parquet; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for t in tables:
        tab = globals()["gen_" + t](seed, scale)
        pq.write_table(tab, os.path.join(out_dir, t + ".parquet"))
        counts[t] = tab.num_rows
    return counts
