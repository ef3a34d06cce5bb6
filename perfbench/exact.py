"""Work done outside the measured process: input generation and the
exact DuckDB reference answers.

    python3 perfbench/exact.py inputs <run_dir>   # reads run_dir/inputs.json
    python3 perfbench/exact.py refs <run_dir>     # reads run_dir/specs.json

``inputs`` writes the seeded parquet tables under ``run_dir/data``.
``refs`` runs each spec's ``ref`` query in DuckDB over the same parquet
files and writes ``run_dir/refs/<i>.parquet``.  Both run in a child
process so neither their time nor their memory counts against the
library's driver process.
"""

from __future__ import annotations

import json
import os
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs  # noqa: E402


def make_inputs(run_dir: str) -> None:
    with open(os.path.join(run_dir, "inputs.json")) as f:
        cfg = json.load(f)
    data = os.path.join(run_dir, "data")
    os.makedirs(data, exist_ok=True)
    facts: dict = {}
    if cfg.get("sf"):
        facts["rows"] = inputs.write_tpch(data, cfg["seed"], cfg["sf"])
    if cfg.get("corpus_rows"):
        facts["corpus_rows"] = inputs.write_corpus(
            os.path.join(data, "corpus.parquet"), cfg["seed"], cfg["corpus_rows"],
            cfg["n_repos"], cfg["max_words"],
        )
    with open(os.path.join(run_dir, "inputs_out.json"), "w") as f:
        json.dump(facts, f)


def make_refs(run_dir: str) -> None:
    import duckdb

    with open(os.path.join(run_dir, "specs.json")) as f:
        specs = json.load(f)
    data = os.path.join(run_dir, "data")
    out = os.path.join(run_dir, "refs")
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for name in ("lineitem", "orders", "customer", "corpus"):
        path = os.path.join(data, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    done: dict[str, str] = {}
    for spec in specs:
        dst = os.path.join(out, f"{spec['i']}.parquet")
        src = done.get(spec["ref"])
        if src is not None:
            os.link(src, dst)
            continue
        con.execute(f"COPY ({spec['ref']}) TO '{dst}' (FORMAT PARQUET)")
        done[spec["ref"]] = dst
    con.close()


if __name__ == "__main__":
    {"inputs": make_inputs, "refs": make_refs}[sys.argv[1]](sys.argv[2])
