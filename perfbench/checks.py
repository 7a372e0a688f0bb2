"""Output checks of the graft benchmark, all independent of graft.

Query results are compared with DuckDB running the query's oracle SQL
over the same parquet, representation-faithfully (the method of
tools/check_oracle.py): columns sorted by name, rows sorted, float64
cells compared as bit patterns with NaNs canonicalized, everything else
by value. Queries without oracle SQL (sketch estimates) are checked for
the properties their sketches guarantee, against DuckDB's exact counts.

The maintain workload is checked from independent paths: the final
corpus against a replay of the seeded commit stream done here, every
maintained index against its one-shot recompute, two index invariants,
and the probe answers against DuckDB running the probes' oracle SQL
over the final corpus plus the arriving batch.

Each check function takes `corrupt`: the name of one check whose graft
result is deliberately corrupted before comparing, to show it fails.
"""
import glob
import json
import math
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CANON_NAN = np.uint64(0x7FF8000000000000)
MAINTAIN_CHECKS = ["replay", "fp", "band", "df", "memb", "media", "fp_sum", "df_n",
                   "probe_exact", "probe_neardup", "probe_tfidf"]


def read_result(d):
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no result files in {d}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        t = str(df[c].dtype)
        if df[c].dtype == object or "datetime" in t:
            df[c] = df[c].astype(str)
        elif "float" in t:
            df[c] = df[c].astype(float)
        elif "int" in t.lower():
            df[c] = df[c].astype("Int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _bits(s):
    a = s.astype("float64").to_numpy(dtype="f8")
    b = a.view("u8").copy()
    b[np.isnan(a)] = CANON_NAN
    return b


def _is_float(s):
    return "float" in str(s.dtype)


def compare(expected, got):
    """None when the two frames hold the same rows, else a description."""
    e, g = canon(expected), canon(got)
    if list(e.columns) != list(g.columns):
        return f"columns {list(g.columns)} vs expected {list(e.columns)}"
    if len(e) != len(g):
        return f"{len(g)} rows vs expected {len(e)}"
    for c in e.columns:
        try:
            if _is_float(e[c]) or _is_float(g[c]):
                neq = (e[c].isna().to_numpy() != g[c].isna().to_numpy()) | (_bits(e[c]) != _bits(g[c]))
            else:
                neq = ~((e[c] == g[c]) | (e[c].isna() & g[c].isna())).to_numpy()
        except (TypeError, ValueError) as exc:
            return f"column {c}: incomparable ({e[c].dtype} vs {g[c].dtype}): {exc}"
        if neq.any():
            i = int(np.nonzero(neq)[0][0])
            return f"column {c}: {int(neq.sum())} cells differ, e.g. row {i}: " \
                   f"expected {e[c].iloc[i]!r}, got {g[c].iloc[i]!r}"
    return None


def corrupted(df):
    """The same frame with one cell changed (by one ulp for a float), or
    one row added when it is empty."""
    df = df.copy()
    if len(df) == 0:
        return pd.concat([df, pd.DataFrame([{c: None for c in df.columns}])], ignore_index=True)
    c = df.columns[0]
    v = df[c].iloc[0]
    if isinstance(v, (bool, np.bool_)):
        nv = not v
    elif isinstance(v, (float, np.floating)):
        nv = np.nextafter(v, np.inf)
    elif isinstance(v, (int, np.integer)):
        nv = v + 1
    else:
        nv = str(v) + "x"
    df[c] = df[c].astype(object)
    df.iat[0, 0] = nv
    return df


def _duck(data):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def _q41(con, got):
    """approx_count_distinct within 3 relative standard errors (0.02,
    0.01), approx median within n/10000 ranks (rounded up to a whole
    rank), n_rows exact."""
    exact = con.execute(
        "SELECT l_returnflag, count(*) AS n, count(DISTINCT l_orderkey) AS d_orders, "
        "count(DISTINCT l_partkey) AS d_parts FROM lineitem GROUP BY 1").df()
    if sorted(got.l_returnflag) != sorted(exact.l_returnflag):
        return f"groups {sorted(got.l_returnflag)} vs {sorted(exact.l_returnflag)}"
    for _, g in got.iterrows():
        x = exact[exact.l_returnflag == g.l_returnflag].iloc[0]
        n = int(x.n)
        if int(g.n_rows) != n:
            return f"{g.l_returnflag}: n_rows {g.n_rows} vs {n}"
        for col, d, rse in (("approx_orders", x.d_orders, 0.02), ("approx_parts", x.d_parts, 0.01)):
            if abs(g[col] - d) > 3 * rse * d:
                return f"{g.l_returnflag}: {col} {g[col]} vs exact {d} (> 3 x {rse})"
        lo, hi = con.execute(
            "SELECT count(*) FILTER (WHERE l_extendedprice < ?), "
            "count(*) FILTER (WHERE l_extendedprice <= ?) FROM lineitem WHERE l_returnflag = ?",
            [float(g.approx_median_price), float(g.approx_median_price), g.l_returnflag]).fetchone()
        k = math.ceil(0.5 * n)
        err = max(0, lo + 1 - k, k - hi)
        if err > math.ceil(n / 10000):
            return f"{g.l_returnflag}: median rank error {err} > ceil({n} / 10000)"
    return None


def _q122(con, got):
    """hll_sketch (lgK 12, RSE 1.04/64) within 3 RSE; n_docs exact."""
    exact = con.execute(
        "SELECT source, count(*) AS n, count(DISTINCT text) AS d FROM documents GROUP BY 1 "
        "UNION ALL SELECT '__all__', count(*), count(DISTINCT text) FROM documents").df()
    if sorted(got.source) != sorted(exact.source):
        return "source groups differ"
    rse = 1.04 / 64
    for _, g in got.iterrows():
        x = exact[exact.source == g.source].iloc[0]
        if int(g.n_docs) != int(x.n):
            return f"{g.source}: n_docs {g.n_docs} vs {x.n}"
        if abs(g.distinct_est - x.d) > 3 * rse * x.d:
            return f"{g.source}: distinct_est {g.distinct_est} vs exact {x.d}"
    return None


PROPERTY_CHECKS = {"q41_approx_aggs": _q41, "q122_hll_rollup": _q122}


def query_names(results):
    """The queries with a result under `results`: one check each."""
    return sorted(n for n in os.listdir(results) if os.path.isdir(os.path.join(results, n)))


def check_queries(data, results, corrupt=None):
    """Every query result under `results` against DuckDB, four at a
    time. Returns the list of failed checks."""
    con = _duck(data)
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle = json.load(f)
    names = query_names(results)
    def one(name):
        c = con.cursor()
        got = read_result(os.path.join(results, name))
        if corrupt == name:
            got = corrupted(got) if name in oracle else _corrupt_estimate(got)
        if name in oracle:
            try:
                return compare(c.execute(oracle[name]).df(), got)
            except duckdb.Error as e:
                return f"oracle SQL error: {e}"
        if name in PROPERTY_CHECKS:
            return PROPERTY_CHECKS[name](c, got)
        return "no oracle SQL and no property check"

    with ThreadPoolExecutor(4) as ex:
        found = list(ex.map(one, names))
    problems = [f"{n}: {p}" for n, p in zip(names, found) if p]
    if not names:
        problems.append("no query results")
    return problems


def _corrupt_estimate(got):
    got = got.copy()
    for c in ("approx_orders", "distinct_est"):
        if c in got:
            got[c] = got[c].astype(float)
            got.loc[got.index[0], c] = got[c].iloc[0] * 1.2 + 10
    return got


def _ids(df, cols, fn):
    df = df.copy()
    for c in cols:
        df[c] = fn(df[c]).astype("int64")
    return df


def check_maintain(results, stream, rounds, corrupt=None):
    """Checks of the maintain workload after `rounds` timed commits.
    `stream` is gen.commit_stream's list of (doc_ids, texts) batches.
    Returns (problems, bytes of the live corpus snapshot)."""
    problems = []

    def res(name):
        got = read_result(os.path.join(results, name))
        return corrupted(got) if corrupt == name else got

    def check(name, expected, got):
        p = compare(expected, got)
        if p:
            problems.append(f"{name}: {p}")

    # the corpus equals a replay of commits 0..rounds done without graft
    live = {}
    for ids, texts in stream[:rounds + 1]:
        live.update(zip(ids, texts))
    replay = pd.DataFrame({"doc_id": np.array(list(live), dtype=np.int64),
                           "text": list(live.values())})
    corpus = read_result(os.path.join(results, "corpus"))
    check("replay", replay, corrupted(corpus) if corrupt == "replay" else corpus)

    # every maintained index equals its one-shot recompute
    for idx in ("fp", "band", "df", "memb", "media"):
        got = read_result(os.path.join(results, f"{idx}_maint"))
        check(idx, read_result(os.path.join(results, f"{idx}_comp")),
              corrupted(got) if corrupt == idx else got)

    # invariants: fp ref-counts sum to the live doc count; the df
    # index's corpus-size row is the corpus row count
    fp = read_result(os.path.join(results, "fp_maint"))[["n_docs"]]
    fp_sum = int((corrupted(fp) if corrupt == "fp_sum" else fp).n_docs.sum())
    if fp_sum != len(replay):
        problems.append(f"fp_sum: fp n_docs sum {fp_sum} vs {len(replay)} live docs")
    df_n = res("df_n")
    if len(df_n) != 1 or int(df_n.n_docs.iloc[0]) != len(replay):
        problems.append(f"df_n: corpus-size row {df_n.n_docs.tolist()} vs {len(replay)} docs")

    # probe answers against DuckDB: the oracle SQL's `documents` is the
    # final corpus (ids * 10) plus the arriving batch (ids * 10 + 9), so
    # its batch predicate `doc_id % 10 = 9` selects exactly the arrivals
    with open(os.path.join(results, "maintain.json")) as f:
        sql = json.load(f)
    arrivals = pd.read_parquet(os.path.join(os.path.dirname(results), "data", "stream",
                                            f"arrivals_{rounds}.parquet"))[["doc_id", "text"]]
    docs = pd.concat([replay.assign(doc_id=replay.doc_id * 10),
                      arrivals.assign(doc_id=arrivals.doc_id * 10 + 9)], ignore_index=True)
    con = duckdb.connect()
    con.register("documents_df", docs)
    con.execute("CREATE VIEW documents AS SELECT * FROM documents_df")
    back = lambda s: s // 10  # noqa: E731
    check("probe_exact", _ids(con.execute(sql["q125"]).df(), ["doc_id"], back), res("probe_exact"))
    check("probe_neardup", _ids(con.execute(sql["q126"]).df(), ["batch_doc", "corpus_doc"], back),
          res("probe_neardup"))
    check("probe_tfidf", _ids(con.execute(sql["q146"]).df(), ["doc_id"], back), res("probe_tfidf"))
    live_b = sum(os.path.getsize(f) for f in glob.glob(os.path.join(results, "corpus", "*.parquet")))
    return problems, live_b


def selftest(run_checks, names, log):
    """Feeds every check in `names`, one at a time, a corrupted graft
    result and requires that this check, and only it, then fails.
    Returns the list of checks that did not catch their corruption."""
    missed = []
    for name in names:
        problems = run_checks(name)[0]
        caught = [p for p in problems if p.split(":")[0] == name]
        if not caught or len(problems) != len(caught):
            missed.append(f"selftest {name}: corruption not caught alone ({problems})")
    log(f"selftest: {len(names) - len(missed)}/{len(names)} checks caught their corruption")
    return missed
