"""Per-pass output checks that never trust the program's own output.

Outputs are read back with DuckDB and plain Python, not Spark, and are
compared with the generator's manifest or with the query registry's
DuckDB oracles evaluated on the same generated inputs.  Every check
returns a list of problems; an empty list means the pass is correct.
"""

from __future__ import annotations

import glob
import json
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from tests.oracle import canonical_rows  # noqa: E402


def _read_parquet(path: str) -> tuple[list[str], list[tuple]]:
    rel = duckdb.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    return list(rel.columns), rel.fetchall()


def _connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


# The registry's normalize SQL writes its line-break replacements as the
# two characters backslash-n, which DuckDB's regexp_replace rewrites to
# nothing: on multi-line text the oracle deletes line breaks that the
# program (correctly) keeps.  Replace them with real newlines.
_NEWLINE_FIXES = (
    ("' ?\\n ?', '\\n', 'g'", "' ?\\n ?', chr(10), 'g'"),
    ("'\\n{3,}', '\\n\\n', 'g'", "'\\n{3,}', chr(10) || chr(10), 'g'"),
)


def oracle_rows(data_dir: str, names: list[str]) -> dict[str, list[tuple]]:
    """Canonical oracle rows per registry query, over ``data_dir``."""
    from chewdata_spark.queries import all_oracles

    sql = all_oracles()
    con = _connection(data_dir)
    out = {}
    for n in names:
        q = sql[n]
        for old, new in _NEWLINE_FIXES:
            q = q.replace(old, new)
        rel = con.sql(q)
        out[n] = canonical_rows(list(rel.columns), rel.fetchall())
    return out


def _rows_match(name: str, path: str, expected: list[tuple]) -> list[str]:
    if not os.path.isdir(path):
        return [f"{name}: no output at {path}"]
    cols, rows = _read_parquet(path)
    got = canonical_rows(cols, rows)
    if len(got) != len(expected):
        return [f"{name}: {len(got)} rows, oracle has {len(expected)}"]
    if got != expected:
        first = next(i for i, (a, b) in enumerate(zip(got, expected)) if a != b)
        return [f"{name}: row {first} differs: {got[first]} vs oracle {expected[first]}"]
    return []


def check_etl(pass_dir: str, manifest: dict) -> list[str]:
    ok_dir, err_dir = os.path.join(pass_dir, "etl_ok"), os.path.join(pass_dir, "etl_err")
    if not (os.path.isdir(ok_dir) and os.path.isdir(err_dir)):
        return ["etl: ok or err output missing"]
    cols, ok = _read_parquet(ok_dir)
    ok = [dict(zip(cols, r)) for r in ok]
    err = []
    for path in sorted(glob.glob(os.path.join(err_dir, "part-*"))):
        with open(path) as fh:
            err += [json.loads(line) for line in fh if line.strip()]
    problems = []
    if len(ok) + len(err) != manifest["records"]:
        problems.append(f"etl: ok {len(ok)} + err {len(err)} != {manifest['records']} records")
    got_err = {str(r["id"]): r.get("_error") for r in err}
    if got_err != manifest["invalid"]:
        wrong = sorted(set(got_err.items()) ^ set(manifest["invalid"].items()))[:3]
        problems.append(f"etl: err ids/messages differ from the planted ones, e.g. {wrong}")
    null_mapped = sum(r.get("mapped") is None for r in ok + err)
    if null_mapped != manifest["missing_code_records"]:
        problems.append(f"etl: {null_mapped} null mapped values, "
                        f"{manifest['missing_code_records']} planted missing codes")
    doubled = sum(r.get("doubled") or 0 for r in ok + err)
    if doubled != 2 * manifest["sum_number"]:
        problems.append(f"etl: sum(doubled) {doubled} != 2 * sum(number) {manifest['sum_number']}")
    return problems


def check_queries(pass_dir: str, expected: dict[str, list[tuple]]) -> list[str]:
    problems = []
    for name, rows in expected.items():
        problems += _rows_match(name, os.path.join(pass_dir, name), rows)
    return problems


def check_sa(pass_dir: str, expected: list[tuple], manifest: dict) -> list[str]:
    path = os.path.join(pass_dir, "sa")
    problems = _rows_match("curate_sa", path, expected)
    if os.path.isdir(path):
        cols, rows = _read_parquet(path)
        clean = {r[cols.index("doc_id")]: r[cols.index("clean_text")] for r in rows}
        for leak in manifest["leaks"]:
            if leak["text"] in (clean.get(leak["into"]) or ""):
                problems.append(f"curate_sa: planted leak into doc {leak['into']} survived")
    return problems


def check_stream(pass_dir: str, manifest: dict) -> list[str]:
    path = os.path.join(pass_dir, "stream")
    if not os.path.isdir(path):
        return ["stream: no output"]
    cols, rows = _read_parquet(path)
    got = sorted(r[cols.index("doc_id")] for r in rows)
    if got != manifest["survivors"]:
        extra = sorted(set(got) - set(manifest["survivors"]))[:3]
        missing = sorted(set(manifest["survivors"]) - set(got))[:3]
        return [f"stream: survivors differ ({len(got)} vs {len(manifest['survivors'])}; "
                f"extra {extra}, missing {missing})"]
    return []
