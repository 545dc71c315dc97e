"""Expected outputs for the benchmark's checks, derived independently of
the engine: DuckDB computes profile and rule values from the same parquet
files, and plain Python recomputes the corpus results (near-duplicate
components, character-LM scores and n-gram language IDs) from their
documented definitions.

The engine's own rule queries and language seeds are inputs here (dumped
once per build by `perfbench.Constants`); every value is computed
without engine code.
"""
import math
import re
from collections import Counter, defaultdict

import duckdb

NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "FLOAT", "DOUBLE", "DECIMAL")


def _connect(data_dir, tables):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _profile(con, rel):
    """Exact row/null/distinct/duplicate counts and min/max of `rel`."""
    cols = con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()
    exprs = ["COUNT(*)"]
    for name, typ, *_ in cols:
        q = f'"{name}"'
        exprs += [f"COUNT(*) - COUNT({q})", f"COUNT(DISTINCT {q})"]
        if typ.startswith(NUMERIC):
            exprs += [f"MIN({q})::DOUBLE", f"MAX({q})::DOUBLE"]
        elif typ == "VARCHAR":
            exprs += [f"MIN(LENGTH({q}))", f"MAX(LENGTH({q}))"]
    row = list(con.execute(f"SELECT {', '.join(exprs)} FROM {rel}").fetchone())
    keys = ", ".join(f'"{c[0]}"' for c in cols)
    dups = con.execute(
        f"SELECT COUNT(*) FROM (SELECT 1 FROM {rel} GROUP BY {keys} HAVING COUNT(*) > 1)"
    ).fetchone()[0]
    out = {"row_count": row.pop(0), "duplicate_count": dups, "columns": {}}
    for name, typ, *_ in cols:
        c = {"nulls": row.pop(0), "distinct": row.pop(0)}
        if typ.startswith(NUMERIC):
            c["min"], c["max"] = row.pop(0), row.pop(0)
        elif typ == "VARCHAR":
            c["min_length"], c["max_length"] = row.pop(0), row.pop(0)
        out["columns"][name] = c
    return out


def profiles(data_dir, tables):
    con = _connect(data_dir, tables)
    return {t: _profile(con, t) for t in tables}


_RLIKE = re.compile(r"(\w+) RLIKE '((?:[^']|'')*)'")


def to_duckdb(sql):
    """Rewrite the Spark-only spellings the default rules use."""
    return _RLIKE.sub(lambda m: f"regexp_matches({m.group(1)}, '{m.group(2)}')", sql)


def rule_values(data_dir, rules):
    """{table: [actual value of each default rule, in rule order]}."""
    con = _connect(data_dir, list(rules))
    out = {}
    for table, rs in rules.items():
        vals = []
        for r in rs:
            v = con.execute(to_duckdb(r["query"])).fetchone()[0]
            vals.append(None if v is None else float(v))
        out[table] = vals
    return out


def _word_shingles(text, n=3):
    w = text.split()
    if len(w) < n:
        return {" ".join(w)}
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def components(docs, threshold=0.8):
    """Doc id -> smallest id of its near-duplicate cluster: pairs whose
    word-3-gram Jaccard reaches `threshold`, closed transitively."""
    sh = {i: _word_shingles(t) for i, t in docs}
    index = defaultdict(list)
    for i, s in sh.items():
        for g in s:
            index[g].append(i)
    parent = {i: i for i in sh}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    seen = set()
    for ids in index.values():
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                p = (ids[a], ids[b])
                if p in seen:
                    continue
                seen.add(p)
                sa, sb = sh[p[0]], sh[p[1]]
                if len(sa & sb) / len(sa | sb) >= threshold:
                    ra, rb = find(p[0]), find(p[1])
                    parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in sh}


def _char_grams(s, n):
    return [s[i:i + n] for i in range(len(s) - n + 1)]


def lm_scores(docs, n=3, vocab_size=256, floor=0.5):
    """Doc id -> [n_grams, oov_grams, avg_logp, perplexity] under the
    corpus's own top-`vocab_size` char-n-gram unigram model."""
    counts = Counter()
    for _, t in docs:
        counts.update(_char_grams(t, n))
    total = float(sum(counts.values()))
    vocab = dict(sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size])
    out = {}
    for i, t in docs:
        gs = _char_grams(t, n)
        if not gs:
            out[i] = [0, 0, None, None]
            continue
        s = sum(math.log(vocab.get(g, floor) / total) for g in gs)
        oov = sum(1 for g in gs if g not in vocab)
        out[i] = [len(gs), oov, s / len(gs), math.exp(-s / len(gs))]
    return out


def lang_ids(docs, seeds, n=2, alpha=0.5):
    """Doc id -> [lang_pred, n_grams, avg_logp, margin] under additive-
    smoothed char-bigram profiles of the seed texts; `margin` is the gap
    to the runner-up score (a near-zero margin is a tie)."""
    seeds = sorted(seeds.items())
    grams = {l: Counter(_char_grams(s.lower(), n)) for l, s in seeds}
    v = len(set().union(*[set(g) for g in grams.values()]))
    logp = {l: {g: math.log((c + alpha) / (sum(grams[l].values()) + alpha * v))
                for g, c in grams[l].items()} for l, _ in seeds}
    floor = {l: math.log(alpha / (sum(grams[l].values()) + alpha * v)) for l, _ in seeds}
    out = {}
    for i, t in docs:
        gs = Counter(_char_grams(t.lower(), n))
        ng = sum(gs.values())
        if ng == 0:
            out[i] = ["unknown", 0, None, 1e300]
            continue
        scores = [(sum(c * logp[l].get(g, floor[l]) for g, c in gs.items()), l)
                  for l, _ in seeds]
        best = max(scores, key=lambda sl: sl[0])  # first max: alphabetical tiebreak
        runner = max((s for s, l in scores if l != best[1]), default=best[0] - 1e300)
        out[i] = [best[1], ng, best[0] / ng, best[0] - runner]
    return out


def corpus(data_dir, seeds):
    con = _connect(data_dir, ["documents"])
    docs = con.execute("SELECT doc_id, text FROM documents WHERE text IS NOT NULL "
                       "ORDER BY doc_id").fetchall()
    comps = components(docs)
    return {"docs": len(docs),
            "components": {str(k): v for k, v in comps.items()},
            "clustered": sum(1 for k, v in comps.items() if k != v),
            "lm": {str(k): v for k, v in lm_scores(docs).items()},
            "lang": {str(k): v for k, v in lang_ids(docs, seeds).items()}}
