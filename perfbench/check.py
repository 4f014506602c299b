"""Output checks, run after the timed part of every benchmark run.

Each check compares what the program left behind with a computation
made apart from it: the generator's expected outcome for the lake
workloads, DuckDB running each query's oracle SQL for query_tail. A
mismatch counts as a failed operation; nothing is retried.
"""

import importlib.util
import os

import gen


def _target_files(expected):
    """dst -> size of every file the pipeline must put under the target."""
    if expected["workload"] == "lake_move":
        pairs = expected["moves"].items()
    else:
        pairs = expected["copies"].items()
    return {dst: expected["before"][src][1] for src, dst in pairs}


def _expected_status(expected):
    if expected["workload"] == "lake_move":
        return [["success", expected["moved"], expected["moved_bytes"]]]
    return [["success", expected["copied"], expected["copied_bytes"]]]


def iteration_failures(expected, outcome):
    """Files one iteration got wrong: a file missing from the target,
    one that should not be there, one of the wrong size, or a status
    report that disagrees with the expected counts and bytes."""
    want = _target_files(expected)
    got = outcome["target"]
    wrong = {p for p in set(want) | set(got) if want.get(p) != got.get(p)}
    status = sorted(outcome["status"])
    want_status = _expected_status(expected)
    if status == want_status:
        return len(wrong)
    n_ok = sum(n for s, n, _ in status if s == "success")
    return max(len(wrong), abs(n_ok - want_status[0][1]), 1)


def final_failures(expected, lake_root):
    """Files whose final state differs from the generator's: every
    expected file must sit at its destination with identical bytes and
    every other file must be untouched, which also conserves the file
    count and bytes across source and target."""
    want = expected["after"]
    got = gen.inventory(lake_root)
    return sum(1 for p in set(want) | set(got) if want.get(p) != got.get(p))


def lake(expected, result, lake_root):
    """(attempted, failed) for a lake workload run."""
    outcomes = list(result["iterations"])
    if "layer_outcome" in result:
        outcomes.append(result["layer_outcome"])
    per_round = expected["files"] if expected["workload"] == "lake_move" \
        else expected["named"]
    failed = sum(min(iteration_failures(expected, o), per_round)
                 for o in outcomes)
    failed += min(final_failures(expected, lake_root), per_round)
    return per_round * len(outcomes), failed


def _verify_local(repo_root):
    """The repository's own result normaliser (tools/verify_local.py)."""
    path = os.path.join(repo_root, "tools", "verify_local.py")
    spec = importlib.util.spec_from_file_location("verify_local", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def query_matches(con, vl, sql, result_dir):
    """True when the engine's rows equal the oracle's: same column
    names, same row count, same order-free hash of the rows. An oracle
    or a result that cannot be read counts as a mismatch."""
    try:
        return _matches(con, vl, sql, result_dir)
    except Exception:  # noqa: BLE001 - any failure to compare is a mismatch
        return False


def _matches(con, vl, sql, result_dir):
    eng = con.execute("SELECT * FROM '%s/*.parquet'" % result_dir)
    eng_cols = [d[0] for d in eng.description]
    eng_rows = eng.fetchall()
    ora = con.execute(sql)
    ora_cols = [d[0] for d in ora.description]
    ora_rows = ora.fetchall()
    return (sorted(eng_cols) == sorted(ora_cols)
            and len(eng_rows) == len(ora_rows)
            and vl.table_hash(eng_rows, eng_cols) == vl.table_hash(ora_rows, ora_cols))


def oracle_connection(tables_dir):
    import duckdb
    con = duckdb.connect()
    for t in ("documents", "embeddings", "orders", "lineitem"):
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s'"
                    % (t, os.path.join(tables_dir, t + ".parquet")))
    return con


def queries(result, names, tables_dir, results_dir, repo_root):
    """(attempted, failed) for a query_tail run. The last pass's rows
    are checked against the oracle; an earlier pass whose rows differ
    from the last one's failed, and so did every pass if the last one
    is wrong."""
    import json
    vl = _verify_local(repo_root)
    con = oracle_connection(tables_dir)
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    passes = result["iterations"]
    failed = 0
    for q in names:
        ok = q in sql and query_matches(con, vl, sql[q],
                                        os.path.join(results_dir, q))
        last = passes[-1][q]
        failed += sum(1 for p in passes if not ok or p[q] != last)
    return len(names) * len(passes), failed
