#!/usr/bin/env python3
"""Self-test of the benchmark's output checks, on tiny inputs, without
the program: it plays the program's part by applying the generator's
expected outcome, shows that the checks pass on it, then corrupts one
thing at a time and shows that each corruption is caught: counted as
failed, and reported not correct in the result line run.py prints.

    python3 perfbench/selftest.py

Exits 0 when every case behaves; takes a few seconds.
"""

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def listing(root, top):
    """What the harness records under the target after an iteration."""
    out = {}
    for p, (_, size) in gen.inventory(root).items():
        if p.startswith(top.rstrip("/") + "/"):
            out[p] = size
    return out


def play(expected, lake):
    """Do what the pipeline should: move or copy every selected file.
    Returns the harness's record of that iteration."""
    if expected["workload"] == "lake_move":
        pairs, status, top = expected["moves"], ["success", expected["moved"],
                                                  expected["moved_bytes"]], \
            expected["args"]["target"]
    else:
        pairs, status, top = expected["copies"], ["success", expected["copied"],
                                                   expected["copied_bytes"]], \
            expected["args"]["target"]
    for src, dst in pairs.items():
        os.makedirs(os.path.dirname(os.path.join(lake, dst)), exist_ok=True)
        if expected["workload"] == "lake_move":
            os.rename(os.path.join(lake, src), os.path.join(lake, dst))
        else:
            shutil.copyfile(os.path.join(lake, src), os.path.join(lake, dst))
    return {"status": [status], "target": listing(lake, top)}


def lake_cases(base, name, make):
    """(case, (attempted, failed)) for an honest run and each corruption."""
    out = []

    def fresh():
        d = os.path.join(base, name)
        shutil.rmtree(d, ignore_errors=True)
        expected = make(d)
        lake = os.path.join(d, "lake")
        return expected, lake, play(expected, lake)

    expected, lake, it = fresh()
    out.append(("honest", check.lake(expected, {"iterations": [it]}, lake)))

    expected, lake, it = fresh()
    victim = sorted(it["target"])[0]
    os.remove(os.path.join(lake, victim))
    out.append(("one output file deleted",
                check.lake(expected, {"iterations": [it]}, lake)))

    expected, lake, it = fresh()
    victim = os.path.join(lake, sorted(it["target"])[0])
    with open(victim, "r+b") as f:
        b = f.read(1)
        f.seek(0)
        f.write(bytes([b[0] ^ 1]))
    out.append(("one output byte flipped",
                check.lake(expected, {"iterations": [it]}, lake)))

    expected, lake, it = fresh()
    untouched = sorted(p for p in expected["before"]
                       if p not in expected.get("moves", expected.get("copies")))
    os.remove(os.path.join(lake, untouched[0]))
    out.append(("one file that should stay deleted",
                check.lake(expected, {"iterations": [it]}, lake)))

    expected, lake, it = fresh()
    it["status"] = [["success", it["status"][0][1] - 1, it["status"][0][2]]]
    out.append(("status report one short",
                check.lake(expected, {"iterations": [it]}, lake)))

    expected, lake, it = fresh()
    extra = dict(it["target"])
    extra.pop(sorted(extra)[0])
    out.append(("an earlier iteration missed one file",
                check.lake(expected, {"iterations": [
                    {"status": it["status"], "target": extra}, it]}, lake)))
    return out


def query_cases(base):
    d = os.path.join(base, "query")
    shutil.rmtree(d, ignore_errors=True)
    tables, results = os.path.join(d, "tables"), os.path.join(d, "results")
    gen.tables(tables, docs=200, vectors=50, orders=300)
    sql = ("SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
           "round(avg(n_chars), 4) AS avg_chars FROM documents GROUP BY source")
    os.makedirs(os.path.join(results, "q"))
    with open(os.path.join(results, "oracle_sql.json"), "w") as f:
        json.dump({"q": sql}, f)
    con = check.oracle_connection(tables)
    part = os.path.join(results, "q", "part-0.parquet")

    def engine(rows_sql):
        con.execute("COPY (%s) TO '%s' (FORMAT PARQUET)" % (rows_sql, part))
        return check.queries({"iterations": [{"q": "h"}, {"q": "h"}]}, ["q"],
                             tables, results, ROOT)

    out = [("honest", engine(sql))]
    out.append(("one row altered", engine(
        "SELECT source, CASE WHEN source = 'src3' THEN n_docs + 1 ELSE n_docs "
        "END AS n_docs, avg_chars FROM (%s)" % sql)))
    out.append(("one row dropped", engine(sql + " HAVING source <> 'src3'")))
    con.execute("COPY (%s) TO '%s' (FORMAT PARQUET)" % (sql, part))
    out.append(("an earlier pass differed", check.queries(
        {"iterations": [{"q": "g"}, {"q": "h"}]}, ["q"], tables, results,
        ROOT)))
    return out


def main():
    base = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                        "selftest")
    cases = []
    cases += [("lake_move: " + c, f) for c, f in lake_cases(
        base, "lake_move", lambda d: gen.lake_move(os.path.join(d, "lake"), 7,
                                                   n_files=120))]
    cases += [("manifest_copy: " + c, f) for c, f in lake_cases(
        base, "manifest_copy", lambda d: gen.manifest_copy(
            os.path.join(d, "lake"), os.path.join(d, "manifest.csv"), 7,
            n_rows=60, extra_files=10))]
    cases += [("query_tail: " + c, f) for c, f in query_cases(base)]
    bad = 0
    for case, (attempted, failed) in cases:
        # the line run.py prints for these counts
        line = json.loads(run.result_line(attempted, failed, {}))
        if case.endswith("honest"):
            ok = failed == 0 and line["correct"]
        else:
            ok = failed > 0 and not line["correct"]
        bad += not ok
        print("%-4s %-60s failed=%d correct=%s" % (
            "ok" if ok else "BAD", case, failed, line["correct"]))
    shutil.rmtree(base, ignore_errors=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
