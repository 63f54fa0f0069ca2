#!/usr/bin/env python3
"""Local pre-flight mirror of the driver's DuckDB correctness gate.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir> \
           [--json <outPath>] [--par N]

For each query parquet in <verifyOutDir>, runs the matching oracle SQL from
oracle_sql.json in DuckDB against the <sfDir> tables and compares:
row count, column names, and a hash of the column-name-sorted,
row-sorted values (the same normalization the driver describes).

Survivability + speed contract (mirrors Verify.scala's): the serial v1 of
this tool took ~21 min on the 194-query registry — one DuckDB connection
replaying unrolled-Lloyd's/BPE/recursive-CTE oracles one at a time, with
the --json record written only after the last query. A wall-clock-killed
run therefore shipped NOTHING even with 194 finished dumps on disk (the
r14-r16 driver artifacts were literally `{}`). v2:
  * a process pool (--par, default 8) of independent DuckDB connections,
    heaviest-SQL-first (string length is an excellent proxy for the
    unrolled-CTE oracles' cost) so the long pole starts at t=0;
  * the --json record is rewritten ATOMICALLY (tmp + os.replace) after
    every completed query — a killed run ships every record finished so
    far;
  * per-query oracle wall time is printed as results arrive, and the
    eight slowest close the run in a "slowest oracles" line, so a slow
    round is attributable; it is not written to the --json record, which holds only the verdicts in
    the driver's per-query format, so a re-run with the same verdicts
    leaves the file byte-identical;
  * a dump dir with zero committed part files (a killed mode=overwrite
    write leaves only _temporary/) records EXEC_ERROR instead of
    aborting the whole run.
"""
import sys, os, json, glob, time
from multiprocessing import Pool, cpu_count

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# ---------- worker side ----------
_con = None
_oracle = None


def _init(sf_dir, oracle, threads):
    global _con, _oracle
    import duckdb
    _con = duckdb.connect()
    _con.execute(f"SET threads TO {threads}")
    for name in TABLES:
        p = f"{sf_dir}/{name}.parquet"
        if os.path.exists(p):
            _con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    _oracle = oracle


def _norm(rel):
    # compare DECIMAL columns as their exact digit strings: fetchdf
    # coerces DECIMAL to float64, which silently rounds 38-digit sums
    # to ~53-bit precision on BOTH sides and would pass drifted values
    types = [str(t) for t in rel.types]
    if any(t.startswith("DECIMAL") for t in types):
        rel = rel.project(", ".join(
            f'"{c}"::VARCHAR AS "{c}"' if t.startswith("DECIMAL") else f'"{c}"'
            for c, t in zip(rel.columns, types)))
    df = rel.fetchdf()
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize values: floats to repr, others to str
    rows = []
    for t in df.itertuples(index=False):
        rows.append(tuple(repr(v) for v in t))
    rows.sort()
    return list(df.columns), rows


def _check(task):
    """Returns (query, human_result, record_dict)."""
    q, qd = task

    def rec(rows_match, schema_match, hash_match, spark_rows, oracle_rows,
            err):
        return {"rows_match": rows_match, "schema_match": schema_match,
                "hash_match": hash_match, "spark_rows": spark_rows,
                "oracle_rows": oracle_rows, "err": err}

    # a killed parallel Verify leaves dirs holding only _temporary/ — that
    # is a missing dump, not a reason to abort the other 193 compares
    if not glob.glob(f"{qd}/*.parquet"):
        return (q, "EXEC_ERROR: no committed part files (partial dump)",
                rec(False, False, False, None, None,
                    "no committed part files (partial dump)"))
    try:
        got_cols, got_rows = _norm(
            _con.sql(f"SELECT * FROM read_parquet('{qd}/*.parquet')"))
    except Exception as e:
        return (q, f"EXEC_ERROR: unreadable dump: {e}",
                rec(False, False, False, None, None,
                    f"unreadable dump: {str(e)[:200]}"))
    if q not in _oracle:
        # rows_match is UNKNOWN here (there is no oracle row count to
        # match against) — None, not a non-empty verdict, keeps the
        # field's semantics identical to the driver's per-query format
        return (q, f"ROWS_ONLY rows={len(got_rows)}"
                + (" EMPTY!" if not got_rows else ""),
                rec(None, None, None, len(got_rows), None,
                    "rows_only (no oracle SQL)"))
    try:
        exp_cols, exp_rows = _norm(_con.sql(_oracle[q]))
    except Exception as e:
        return (q, f"ORACLE_SQL_ERROR: {e}",
                rec(False, False, False, len(got_rows), None,
                    f"oracle sql error: {str(e)[:200]}"))
    r = rec(len(got_rows) == len(exp_rows), got_cols == exp_cols,
            got_rows == exp_rows, len(got_rows), len(exp_rows), None)
    if got_cols != exp_cols:
        msg = f"SCHEMA_MISMATCH got={got_cols} exp={exp_cols}"
    elif len(got_rows) != len(exp_rows):
        msg = f"ROWCOUNT got={len(got_rows)} exp={len(exp_rows)}"
    elif got_rows != exp_rows:
        bad = sum(1 for a, b in zip(got_rows, exp_rows) if a != b)
        i = next(i for i, (a, b) in enumerate(zip(got_rows, exp_rows))
                 if a != b)
        msg = (f"VALUE_MISMATCH {bad}/{len(got_rows)} rows differ; "
               f"first@{i}: got={got_rows[i]} exp={exp_rows[i]}")
    else:
        msg = f"OK rows={len(got_rows)}"
    return (q, msg, r)


def _timed_check(task):
    """`_check` plus its wall seconds (for the progress lines only)."""
    t0 = time.time()
    return (*_check(task), time.time() - t0)


# ---------- parent side ----------

def _write_json_atomic(path, records):
    # queries sorted (records fill in completion order), fields in the
    # driver's order: a re-run with the same verdicts leaves no diff
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump({q: records[q] for q in sorted(records)}, f, indent=2)
    os.replace(tmp, path)


def main(sf_dir, out_dir, json_out, par):
    t_start = time.time()
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    records, results, secs = {}, {}, {}
    # queries whose dump FAILED are reported by Verify in errors.json —
    # surface them as failures instead of silently shrinking the set
    errs_path = f"{out_dir}/errors.json"
    if os.path.exists(errs_path):
        for q, msg in json.load(open(errs_path)).items():
            results[q] = f"EXEC_ERROR: {msg[:200]}"
            records[q] = {"rows_match": False, "schema_match": False,
                          "hash_match": False, "spark_rows": None,
                          "oracle_rows": None,
                          "err": f"spark exec error: {msg[:200]}"}
    # the dump dir of a failed query is STALE (the run failed before
    # overwriting it) — comparing it would mask the failure
    tasks = [(os.path.basename(d), d)
             for d in glob.glob(f"{out_dir}/*") if os.path.isdir(d)
             and os.path.basename(d) not in results]
    # heaviest oracle first: the unrolled-CTE oracles dominate wall time
    # and their SQL strings are 10-100x longer than the cheap ones
    tasks.sort(key=lambda t: -len(oracle.get(t[0], "")))
    threads = max(1, cpu_count() // max(1, par))
    done = 0
    with Pool(par, _init, (sf_dir, oracle, threads)) as pool:
        for q, msg, r, sec in pool.imap_unordered(_timed_check, tasks,
                                                  chunksize=1):
            results[q], records[q], secs[q] = msg, r, sec
            done += 1
            print(f"[{done}/{len(tasks)} t+{time.time() - t_start:5.1f}s "
                  f"{sec:6.2f}s] {q}: {msg}", flush=True)
            if json_out:
                _write_json_atomic(json_out, records)
    fails = 0
    width = max(len(q) for q in results) if results else 1
    print()
    for q in sorted(results):
        ok = results[q].startswith(("OK", "ROWS_ONLY"))
        if not ok:
            print(f"{q:<{width}}  {results[q]}")
            fails += 1
    slow = sorted(secs.items(), key=lambda kv: -kv[1])[:8]
    print("slowest oracles: " + ", ".join(f"{q}={t:.1f}s" for q, t in slow))
    print(f"{len(results) - fails}/{len(results)} pass "
          f"in {time.time() - t_start:.1f}s (par={par}, "
          f"{threads} duckdb threads each)")
    return 1 if fails else 0


if __name__ == "__main__":
    argv = sys.argv[1:]
    json_out, par = None, 8
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv) or argv[i + 1].startswith("--"):
            sys.exit("usage: oracle_check.py <sfDir> <verifyOutDir> "
                     "[--json <outPath>] [--par N]")
        json_out = argv[i + 1]
        del argv[i:i + 2]
    if "--par" in argv:
        i = argv.index("--par")
        par = int(argv[i + 1])
        del argv[i:i + 2]
    if len(argv) != 2:
        sys.exit("usage: oracle_check.py <sfDir> <verifyOutDir> "
                 "[--json <outPath>] [--par N]")
    rc = main(argv[0], argv[1], json_out, par)
    if json_out:
        print(f"wrote {json_out}")
    sys.exit(rc)
