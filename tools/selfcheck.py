#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB over the same parquet tables and compare against the Spark result
parquet written by graft.Verify (columns sorted by name, rows sorted, values
compared with a small float tolerance report AND exact-hash report).

Isolation history, because this file has died three ways at sf0.1 as the
query count grew: a single long-lived DuckDB connection poisoned its buffer
pool around query ~104 (every later query OOMing on 8-byte allocations
under a 24 GB limit); one-fresh-connection-per-query in the SAME process
merely moved the cliff to ~86 (the leak is process-level — closed DuckDB
instances / pandas churn never return to the OS); and mp.Pool with
maxtasksperchild=1 deadlocked on worker churn (parent futex-waiting on
results, the respawned worker pipe-waiting on a task, both forever). So
each query now runs in its OWN explicitly-spawned subprocess with a plain
Pipe — no pool machinery — and a child that dies without reporting (this
box intermittently EAGAINs thread spawns, killing DuckDB with
std::system_error) is retried once, then recorded as an error instead of
wedging the run. ~125 forks cost seconds total.
"""
import os, sys, json, glob
import multiprocessing as mp

args = [a for a in sys.argv[1:] if not a.startswith("--json")]
json_out = next((a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--json=")), None)
sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
out_dir = args[1] if len(args) > 1 else "/tmp/verify_out"

TABLES = ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]


def check_one(task):
    """Runs in a fresh child process per query (maxtasksperchild=1)."""
    name, sql = task
    import duckdb
    import pandas as pd
    import numpy as np

    lines = []

    def canon(df):
        # Mirror the driver's canonicalizer ORDER: sort rows FIRST, then
        # stringify object columns. Round 4 shipped two broken queries
        # because this function stringified first — an ARRAY-typed output
        # column sorted fine locally but crashed the driver's sort with
        # `unhashable type: numpy.ndarray`. The local gate must fail
        # exactly where the driver's gate fails.
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[us]")
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].astype(str)
        return df

    def rec(**kw):
        base = {"rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": None, "oracle_rows": None, "err": None}
        base.update(kw)
        return base

    spark_files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not spark_files:
        return name, rec(err="missing spark output"), [f"{name}: MISSING spark output"], True
    def run_oracle(threads, mem="48GB"):
        con = duckdb.connect()
        try:
            con.sql(f"SET threads TO {threads}")
            con.sql(f"SET memory_limit = '{mem}'")
            # disk spill: DuckDB's in-memory default intermittently dies
            # with "Failed to allocate block" on this box even with free
            # RAM; a temp dir lets the heavy oracles (q134's exact ANN
            # arm) page instead of aborting
            con.sql("SET temp_directory = '/tmp/duck_spill'")
            # large intermediates (q134's exact-ANN cross product at
            # sf0.1) hold materialized order state under the default;
            # we sort in canon() anyway, so drop insertion order and
            # let operators stream/spill instead of OOMing
            con.sql("SET preserve_insertion_order = false")
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            return canon(con.sql(sql).df())
        finally:
            con.close()

    retried = False
    try:
        try:
            odf = run_oracle(8)
        except Exception as e:
            # Retry ONLY the known transient DuckDB allocator failures on
            # this box — not any message containing "memory", which would
            # also retry (and could luck-mask) a genuine memory_limit-
            # exceeded oracle bug. The retry is logged into the record.
            msg = str(e)
            if ("Failed to allocate block" not in msg
                    and "OutOfMemoryException" not in msg
                    and "Out of Memory" not in msg):
                raise
            retried = True
            try:
                odf = run_oracle(4)
            except Exception as e2:
                msg2 = str(e2)
                if ("Failed to allocate block" not in msg2
                        and "OutOfMemoryException" not in msg2
                        and "Out of Memory" not in msg2):
                    raise
                # lower rungs: fewer threads AND a lower memory_limit —
                # the lower ceiling makes DuckDB spill to temp_directory
                # earlier instead of attempting the failing allocation
                try:
                    odf = run_oracle(2, mem="24GB")
                except Exception as e3:
                    msg3 = str(e3)
                    if ("Failed to allocate block" not in msg3
                            and "OutOfMemoryException" not in msg3
                            and "Out of Memory" not in msg3):
                        raise
                    # final rungs, two opposite directions: an aggressive
                    # ceiling pages everything big through the spill dir
                    # (q134's sf0.1 exact-ANN arm died on all three upper
                    # rungs in round 6), but ORDERED aggregates (the
                    # float-determinism `SUM(... ORDER BY i)` oracles,
                    # e.g. q275) cannot spill at all — those need the
                    # opposite: one thread and the box's full memory.
                    try:
                        odf = run_oracle(1, mem="12GB")
                    except Exception as e4:
                        msg4 = str(e4)
                        if ("Failed to allocate block" not in msg4
                                and "OutOfMemoryException" not in msg4
                                and "Out of Memory" not in msg4):
                            raise
                        odf = run_oracle(1, mem="100GB")
    except Exception as e:
        return name, rec(err=f"oracle error: {e}"), [f"{name}: ORACLE ERROR {e}"], True
    if retried:
        lines.append(f"  {name}: oracle retried after allocator failure")
    sdf_raw = pd.concat([pd.read_parquet(f) for f in spark_files])
    # Mirror the driver's dtype canonicalization (round-5 q228): Spark
    # parquet DECIMAL arrives as object-of-decimal.Decimal and the driver
    # stringifies it ("10.20"), while a DuckDB DECIMAL oracle column
    # converts to float64 ("10.2") — the driver hash-mismatches even when
    # values agree to the cent. The float-coercion compare below would
    # mask that, so record Decimal columns BEFORE canon stringifies them
    # and fail any that face a float oracle column.
    import decimal
    decimal_cols = {c for c in sdf_raw.columns
                    if sdf_raw[c].dtype == object
                    and any(isinstance(v, decimal.Decimal)
                            for v in sdf_raw[c].dropna().head(5))}
    sdf = canon(sdf_raw)
    if list(sdf.columns) != list(odf.columns):
        return (name, rec(schema_match=False, spark_rows=len(sdf), oracle_rows=len(odf),
                          oracle_retried=retried),
                [f"{name}: COLUMN MISMATCH spark={list(sdf.columns)} oracle={list(odf.columns)}"], True)
    if len(sdf) != len(odf):
        return (name, rec(schema_match=True, rows_match=False,
                          spark_rows=len(sdf), oracle_rows=len(odf),
                          oracle_retried=retried),
                [f"{name}: ROWCOUNT MISMATCH spark={len(sdf)} oracle={len(odf)}"], True)
    exact = True; approx = True
    for c in sdf.columns:
        s, o = sdf[c], odf[c]
        if c in decimal_cols and pd.api.types.is_float_dtype(o):
            exact = False; approx = False
            lines.append(
                f"  {name}.{c}: Spark emits DECIMAL (driver stringifies "
                f"Decimal('10.20')) vs float64 oracle ('10.2') — cast the "
                f"registered output boundary to DOUBLE or integer cents")
            continue
        if pd.api.types.is_float_dtype(s) or pd.api.types.is_float_dtype(o):
            se, oe = s.fillna(-1e308).to_numpy(dtype=float), o.fillna(-1e308).to_numpy(dtype=float)
            if not np.array_equal(se, oe):
                exact = False
                if not np.allclose(se, oe, rtol=1e-9, atol=1e-12, equal_nan=True):
                    approx = False
                    bad = np.where(~np.isclose(se, oe, rtol=1e-9, atol=1e-12))[0][:3]
                    lines.append(f"  {name}.{c} diff rows {bad}: spark={se[bad]} oracle={oe[bad]}")
        else:
            if not s.astype(str).equals(o.astype(str)):
                exact = False; approx = False
                neq = (s.astype(str) != o.astype(str))
                idx = list(s.index[neq])[:3]
                lines.append(f"  {name}.{c} diff rows {idx}: spark={list(s[neq][:3])} oracle={list(o[neq][:3])}")
    status = "OK-exact" if exact else ("OK-approx" if approx else "FAIL")
    lines.append(f"{name}: {status} ({len(sdf)} rows, {len(sdf.columns)} cols)")
    return (name, rec(rows_match=True, schema_match=True, hash_match=exact,
                      spark_rows=len(sdf), oracle_rows=len(odf),
                      oracle_retried=retried,
                      err=None if status != "FAIL" else "value mismatch"),
            lines, status == "FAIL")


def _child(conn, task):
    try:
        conn.send(check_one(task))
    finally:
        conn.close()


def run_isolated(ctx, task):
    """One fresh process for one query; returns the (name, record, lines,
    failed) tuple, or None if the child died before reporting."""
    parent_conn, child_conn = ctx.Pipe(duplex=False)
    p = ctx.Process(target=_child, args=(child_conn, task))
    p.start()
    child_conn.close()
    try:
        result = parent_conn.recv()
    except EOFError:
        result = None
    finally:
        parent_conn.close()
    p.join()
    return result


def lint_unpartitioned_windows(src_root="src/main/scala"):
    """Source lint (round-9 directive): every unpartitioned Window.orderBy
    must carry the 'keyspace' doc marker within the 3 lines above it —
    the established discipline is that such a window only ever sorts a
    by-value/keyspace-collapsed relation, and the marker forces each new
    site to SAY so. A fact-sized unpartitioned window single-threads the
    corpus through one partition, which no oracle or determinism check
    can see (it is correct, just catastrophically slow at scale).
    """
    import re, os, glob as g
    pat = re.compile(r"Window\s*\.\s*orderBy")
    bad = []
    for f in sorted(g.glob(os.path.join(src_root, "**", "*.scala"),
                           recursive=True)):
        text = open(f).read()
        lines = text.split("\n")
        for m in pat.finditer(text):
            ln = text[:m.start()].count("\n") + 1
            ctx = "\n".join(lines[max(0, ln - 4):ln]).lower()
            if "keyspace" not in ctx:
                bad.append(f"{f}:{ln}")
    for b in bad:
        print(f"LINT: unpartitioned Window.orderBy without a 'keyspace' "
              f"marker at {b} — annotate why the input is keyspace-sized "
              f"(or partition the window)", flush=True)
    return len(bad)


def lint_doc_counts(repo_root):
    """Doc-drift lint (round-12 directive): README's test/suite/query
    counts must be DERIVED facts, not hand-maintained prose — round 11
    shipped a 713-vs-714 drift. Registry count = distinct query keys
    grep-counted from SparkEntry (the judge's own method; the scoped
    VERIFY_ONLY dump can't be used — it filters). Test/suite counts come
    from target/test-reports/*.xml when present (they exist whenever the
    gate has run `sbt test`; a fresh clone skips the check rather than
    redding on a missing build artifact).
    """
    import re, os, glob as g
    import xml.etree.ElementTree as ET
    fails = 0
    entry = os.path.join(repo_root, "src", "main", "scala", "graft",
                         "SparkEntry.scala")
    n_queries = len(set(re.findall(r'"(q\d+[a-z0-9_]*)"\s*->',
                                   open(entry).read())))
    readme_path = os.path.join(repo_root, "README.md")
    readme = open(readme_path).read()
    m = re.search(r"All (\d+) registered queries", readme)
    if m and int(m.group(1)) != n_queries:
        print(f"LINT: README.md says 'All {m.group(1)} registered queries' "
              f"but SparkEntry registers {n_queries} — regenerate the "
              f"README counts", flush=True)
        fails += 1
    # test/suite counts are only authoritative right after a FULL
    # `sbt test` — a scoped testOnly leaves partial/stale reports — so
    # this half of the check is gate-opt-in (tools/gate.sh sets the var)
    reports = g.glob(os.path.join(repo_root, "target", "test-reports",
                                  "*.xml"))
    # len >= 50: only a FULL `sbt test` leaves that many suite files — a
    # scoped testOnly (or a clean + testOnly) leaves a handful of partial
    # reports that must not red the gate (same guard as the fixer tool)
    if (reports and len(reports) >= 50
            and os.environ.get("GRAFT_ENFORCE_TEST_COUNTS")):
        suites = len(reports)
        tests = sum(int(ET.parse(r).getroot().get("tests", "0"))
                    for r in reports)
        m = re.search(r"# (\d+) tests / (\d+) suites", readme)
        if m and (int(m.group(1)) != tests or int(m.group(2)) != suites):
            print(f"LINT: README.md claims '{m.group(1)} tests / "
                  f"{m.group(2)} suites' but target/test-reports holds "
                  f"{tests} tests / {suites} suites — regenerate the "
                  f"README counts", flush=True)
            fails += 1
    return fails


def main():
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src_root = os.path.join(repo_root, "src", "main", "scala")
    lint_fails = lint_unpartitioned_windows(src_root)
    lint_fails += lint_doc_counts(repo_root)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    report = {}
    fails = 0
    ctx = mp.get_context("fork")
    for name in sorted(oracle):
        task = (name, oracle[name])
        result = run_isolated(ctx, task)
        if result is None:  # transient thread-spawn EAGAIN kills DuckDB
            result = run_isolated(ctx, task)
        if result is None:
            result = (name, {"rows_match": None, "schema_match": None,
                             "hash_match": None, "spark_rows": None,
                             "oracle_rows": None,
                             "err": "checker subprocess died twice"},
                      [f"{name}: CHECKER SUBPROCESS DIED (twice)"], True)
        rname, record, lines, failed = result
        report[rname] = record
        for ln in lines:
            print(ln, flush=True)
        if failed:
            fails += 1
    fails += lint_fails
    print(f"\n{'ALL GREEN' if fails == 0 else f'{fails} FAILURES'}")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(report, f, indent=1)
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
