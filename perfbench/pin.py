"""Re-pins the expected outputs of the contract workload.

Run from the repo root: python3 perfbench/pin.py

Hashes every headline query's output on the generated sf0.1 tables
twice (two JVMs; the hashes must agree), then dumps the outputs with
graft.Verify and compares each against its DuckDB oracle twin with the
canonicalization of the repo's DuckDB comparison scripts (columns sorted
by name, rows sorted, values compared). Writes perfbench/pins/contract_sf0.1.tsv with
one line per query: name, rows, hash and the source of the pin —
`duckdb` when the output matched the oracle, `commit` when the query has
no oracle twin, `commit-duckdb-differs` when it has one but the output
differed (the note says how).
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main():
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes, jars, _ = build.build(build_dir)
    data = run.contract_data(build_dir)
    sf = os.path.join(data, "sf0.1")
    work = os.path.join(build_dir, "pin")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    hashes = []
    for i in range(2):
        out = os.path.join(work, f"hashes{i}.tsv")
        subprocess.run(run.jvm_cmd(build_dir, classes, jars, "perfbench.Main", [
            "--workload", "contract_floor", "--seed", "0", "--seconds", "0",
            "--work", work, "--out", os.path.join(work, "unused.json"),
            "--data", data, "--pin-out", out]), check=True, stdout=subprocess.DEVNULL)
        hashes.append([l.split("\t") for l in open(out).read().splitlines()])
    if hashes[0] != hashes[1]:
        bad = [a[0] for a, b in zip(*hashes) if a != b]
        raise SystemExit(f"unstable output hashes: {bad}")

    names = [h[0] for h in hashes[0]]
    dump = os.path.join(work, "verify")
    subprocess.run(run.jvm_cmd(build_dir, classes, jars, "graft.Verify", [sf, dump] + names),
                   check=True, stdout=subprocess.DEVNULL)
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    lines = ["# name\trows\thash\tsource (see perfbench/pin.py)"]
    for name, rows, h in hashes[0]:
        if name not in oracle:
            source = "commit"
        else:
            got = canon(pd.read_parquet(os.path.join(dump, name)))
            want = canon(con.execute(oracle[name]).df())
            if len(got) != len(want):
                source = f"commit-duckdb-differs:rows {len(got)} vs {len(want)}"
            else:
                try:
                    pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                                  check_exact=False, rtol=1e-6)
                    source = "duckdb"
                except AssertionError:
                    source = "commit-duckdb-differs:values"
        lines.append(f"{name}\t{rows}\t{h}\t{source}")
    out = os.path.join(run.HERE, "pins", "contract_sf0.1.tsv")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
