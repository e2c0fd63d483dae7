#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run DuckDB oracle SQL
against the same parquet tables and compare with Verify's parquet output.
Usage: python3 tools/check.py [--shared] <sfDir> <verifyOutDir>

Process model (load-bearing — round-11 finding): a single long-lived
process accumulates allocator state across ~150 heavy oracles until
DuckDB fails 2 KB mallocs ("Out of Memory Error ... (bad allocation)")
even on an idle 125 GB box — the same oracles pass instantly in a fresh
process. Oracles therefore run in a worker subprocess recycled every
MAX_TASKS oracles (fresh allocator), each oracle on a fresh connection,
with an OOM-only retry for residual host-level pressure.

--shared runs every oracle in sequence on ONE connection in this process,
with no retry, as the official correctness gate does. A connection-level
setting that an oracle leaves behind (a SET that fails after an earlier
spill, a changed limit) shows up here and not in the default mode.
"""
import sys, json, glob, os
import multiprocessing as mp

TABLES = ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]
# fresh process per oracle by default: even 8-task workers reproduced the
# allocator poisoning (measured). The spawn-per-oracle fixed cost (pandas +
# duckdb import, ~182 processes) is real, so iteration loops may raise it
# via CHECK_MAX_TASKS (e.g. 50) on a healthy box; official runs keep 1.
MAX_TASKS = int(os.environ.get("CHECK_MAX_TASKS", "1"))


def norm(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    # canonical string form per cell (floats repr'd, NaN→None)
    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        return str(v)
    sdf = df.apply(lambda c: c.map(cell))
    sdf = sdf.sort_values(by=list(sdf.columns)).reset_index(drop=True)
    return sdf


def create_views(con, sf_dir):
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")


def read_output(qdir):
    import pandas as pd
    files = glob.glob(f"{qdir}/*.parquet")
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def compare(name, got, exp):
    g, e = norm(got), norm(exp)
    if list(g.columns) != list(e.columns):
        return ("FAIL", f"{name}: columns {list(g.columns)} vs {list(e.columns)}")
    if len(g) != len(e):
        return ("FAIL", f"{name}: rows {len(g)} vs {len(e)}")
    if not g.equals(e):
        diff = (g != e).any(axis=1)
        i = diff[diff].index[0]
        return ("FAIL", f"{name}: first diff row {i}:\n  got {g.loc[i].to_dict()}"
                        f"\n  exp {e.loc[i].to_dict()}")
    return ("PASS", f"{name}: {len(g)} rows")


def check_one(args):
    """Worker: read the gate output, run the oracle, compare.
    Returns (kind, message) with kind in PASS/FAIL/ROWS."""
    sf_dir, qdir, name, sql = args
    import duckdb
    got = read_output(qdir)
    if got is None:
        return ("FAIL", f"{name}: no output parquet")
    if sql is None:
        return ("ROWS", f"{name}: rows={len(got)} (no oracle)")
    exp = err = None
    for attempt in range(3):
        try:
            con = duckdb.connect()
            try:
                create_views(con, sf_dir)
                exp = con.sql(sql).df()
            finally:
                con.close()  # a failing oracle must not leak its buffer pool
            err = None
            break
        except Exception as e:
            err = e
            if "Out of Memory" not in str(e):
                break
            if attempt < 2:
                wait = 10 if attempt == 0 else 30
                print(f"  [retry] {name}: transient DuckDB OOM "
                      f"(attempt {attempt + 1}), sleeping {wait}s", flush=True)
                import time; time.sleep(wait)
    if err is not None:
        return ("FAIL", f"{name}: oracle error: {err}")
    return compare(name, got, exp)


def check_shared(tasks):
    """--shared: every oracle in sequence on one connection, no retry."""
    import duckdb
    con = duckdb.connect()
    try:
        create_views(con, tasks[0][0])
        for _, qdir, name, sql in tasks:
            got = read_output(qdir)
            if got is None:
                yield ("FAIL", f"{name}: no output parquet")
            elif sql is None:
                yield ("ROWS", f"{name}: rows={len(got)} (no oracle)")
            else:
                try:
                    exp = con.sql(sql).df()
                except Exception as e:
                    yield ("FAIL", f"{name}: oracle error: {e}")
                    continue
                yield compare(name, got, exp)
    finally:
        con.close()


def main():
    args = sys.argv[1:]
    shared = "--shared" in args
    sf_dir, out_dir = [a for a in args if a != "--shared"]
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    tasks = []
    for qdir in sorted(glob.glob(f"{out_dir}/*/")):
        name = qdir.rstrip("/").split("/")[-1]
        tasks.append((sf_dir, qdir.rstrip("/"), name, oracle.get(name)))
    n_pass = n_fail = n_noracle = 0

    def tally(results):
        nonlocal n_pass, n_fail, n_noracle
        for kind, msg in results:
            print(f"{kind} {msg}", flush=True)
            if kind == "PASS":
                n_pass += 1
            elif kind == "ROWS":
                n_noracle += 1
            else:
                n_fail += 1

    if shared:
        tally(check_shared(tasks))
    else:
        ctx = mp.get_context("spawn")  # never fork a live allocator
        with ctx.Pool(processes=1, maxtasksperchild=MAX_TASKS) as pool:
            tally(pool.imap(check_one, tasks))
    print(f"\n== {n_pass} pass, {n_fail} fail, {n_noracle} rows-only ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
