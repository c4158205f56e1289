"""Result checks with the rules of the oracle protocol that
scripts/driver_sim.py simulates.

ORACLE-tier queries are hashed against DuckDB on the same fixture
files, through driver_sim's pandas canonicalisation (imported from the
checkout under test). ROWS-tier queries get that protocol's check: a
row count of at least 0 and a schema of scalar columns.

DuckDB's answers are computed up front in a child process, so that
DuckDB's memory never counts in the benchmark process's peak RSS:

    python3 perfbench/check.py < {"root": ..., "sf_dir": ..., "oracles": {qid: sql}}

prints {qid: [sorted columns, row count, value hash]}."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

_NESTED = ("array", "map", "struct")


def load_driver_sim(root: str):
    """Import scripts/driver_sim.py by path, without running its main()."""
    path = os.path.join(root, "scripts", "driver_sim.py")
    spec = importlib.util.spec_from_file_location("perfbench_driver_sim", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_answers(root: str, sf_dir: str, oracles: dict[str, str]) -> dict[str, list]:
    """[sorted columns, row count, value hash] of DuckDB's answer to each
    oracle query, over views of the fixture parquet files."""
    import duckdb

    sim = load_driver_sim(root)
    con = duckdb.connect()
    try:
        for name in sorted(os.listdir(sf_dir)):
            table, ext = os.path.splitext(name)
            if ext == ".parquet":
                path = os.path.join(sf_dir, name)
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for qid, sql in oracles.items():
            pdf = sim.canon(con.execute(sql).df())
            cols = list(pdf.columns)
            rows = sim.pandas_rows(pdf)
            out[qid] = [sorted(cols), len(rows), sim.value_hash(cols, rows)]
        return out
    finally:
        con.close()


class Checker:
    """Checks query results against DuckDB's answers for `oracles`."""

    def __init__(self, root: str, sf_dir: str, oracles: dict[str, str]) -> None:
        self._sim = load_driver_sim(root)
        request = json.dumps({"root": root, "sf_dir": sf_dir, "oracles": oracles})
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            input=request, capture_output=True, text=True, timeout=120,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"oracle process exited {proc.returncode}:\n{proc.stderr[-3000:]}")
        self._expected = json.loads(proc.stdout)

    def problem(self, qid: str, df) -> str | None:
        """None when `df` (already built) passes the oracle protocol's
        check for `qid`, else a one-line description of the mismatch."""
        if qid not in self._expected:
            nested = [f.name for f in df.schema.fields if f.dataType.typeName() in _NESTED]
            n = len(self._sim.pandas_rows(df.toPandas()))
            if nested:
                return f"ROWS-tier result has nested columns {nested}"
            return None if n >= 0 else f"negative row count {n}"
        sim = self._sim
        pdf = sim.canon(df.toPandas())
        cols = list(pdf.columns)
        rows = sim.pandas_rows(pdf)
        want_cols, want_n, want_hash = self._expected[qid]
        if sorted(cols) != want_cols:
            return f"columns {sorted(cols)} != oracle {want_cols}"
        if len(rows) != want_n:
            return f"rows {len(rows)} != oracle {want_n}"
        got = sim.value_hash(cols, rows)
        if got != want_hash:
            return f"value hash {got[:10]} != oracle {want_hash[:10]}"
        return None


if __name__ == "__main__":
    req = json.load(sys.stdin)
    json.dump(oracle_answers(req["root"], req["sf_dir"], req["oracles"]), sys.stdout)
