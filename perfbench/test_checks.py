"""The output checks accept a correct output and flag a corrupted one.

    python3 -m pytest perfbench/test_checks.py -q

No Spark: each correct output is built with DuckDB from the generated
inputs (or is the oracle's own result), written where the program would
write it, then corrupted in one way at a time.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402

SEED = 5


def _write(con, sql: str, path: str, fmt: str = "parquet") -> None:
    os.makedirs(path, exist_ok=True)
    if fmt == "parquet":
        con.execute(f"COPY ({sql}) TO '{path}/part-00000.parquet' (FORMAT parquet)")
    else:
        rows = con.sql(sql)
        cols = rows.columns
        with open(f"{path}/part-00000.json", "w") as fh:
            for r in rows.fetchall():
                fh.write(json.dumps({c: v for c, v in zip(cols, r) if v is not None}) + "\n")


@pytest.fixture(scope="module")
def etl(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("etl"))
    size = {**gen.SIZES["etl"], "records": 2_000, "parts": 2}
    return d, gen.gen_etl(os.path.join(d, "in"), SEED, size)


def _etl_outputs(d: str, out: str, corrupt: str = "") -> None:
    con = duckdb.connect()
    # "{{ input.x >= 0 }}" -> "NOT (r.x >= 0)"
    rules = [(f"NOT ({p[3:-3].replace('input.', 'r.')})", m) for p, m in gen.ETL_RULES.values()]
    err = " || ".join(f"CASE WHEN {c} THEN '{m}' || '{gen.ETL_SEPARATOR}' ELSE '' END"
                      for c, m in rules)
    con.execute(f"""
        CREATE TABLE t AS
        SELECT r.id, r.number, r.number * 2 AS doubled, m.mapping_value AS mapped,
               NULLIF(rtrim({err}, '{gen.ETL_SEPARATOR}'), '') AS _error
        FROM read_json('{d}/in/records/*.jsonl') r
        LEFT JOIN read_json('{d}/in/mapping.jsonl') m ON r.code = m.mapping_code""")
    if corrupt == "message":
        con.execute("UPDATE t SET _error = 'wrong' WHERE id = (SELECT min(id) FROM t "
                    "WHERE _error IS NOT NULL)")
    if corrupt == "doubled":
        con.execute("UPDATE t SET doubled = doubled + 1 WHERE id = 7")
    if corrupt == "lost":
        con.execute("DELETE FROM t WHERE id = 7")
    _write(con, "SELECT * EXCLUDE (_error) FROM t WHERE _error IS NULL", f"{out}/etl_ok")
    _write(con, "SELECT * FROM t WHERE _error IS NOT NULL", f"{out}/etl_err", "json")


@pytest.mark.parametrize("corrupt", ["message", "doubled", "lost"])
def test_etl_corruption_flagged(etl, corrupt, tmp_path):
    d, manifest = etl
    _etl_outputs(d, str(tmp_path / "good"))
    assert checks.check_etl(str(tmp_path / "good"), manifest) == []
    _etl_outputs(d, str(tmp_path / "bad"), corrupt)
    assert checks.check_etl(str(tmp_path / "bad"), manifest)


def test_query_corruption_flagged(tmp_path):
    data = str(tmp_path / "tpch")
    gen.gen_tpch(data, SEED, {"sf": 0.002})
    names = ["q1_pricing_summary", "top_orders_per_customer"]
    expected = checks.oracle_rows(data, names)
    from chewdata_spark.queries import all_oracles

    con = checks._connection(data)
    for n in names:
        _write(con, all_oracles()[n], str(tmp_path / "good" / n))
    assert checks.check_queries(str(tmp_path / "good"), expected) == []
    bad = str(tmp_path / "bad" / names[0])
    _write(con, f"SELECT * REPLACE (sum_qty + 0.01 AS sum_qty) FROM ({all_oracles()[names[0]]})",
           bad)
    problems = checks.check_queries(str(tmp_path / "bad"), {names[0]: expected[names[0]]})
    assert problems and "differs" in problems[0]


def test_sa_leak_and_rows_flagged(tmp_path):
    data = str(tmp_path / "sa")
    manifest = gen.gen_sa(data, SEED, {**gen.SIZES["sa"], "docs": 120, "leaks": 8})
    name = "curate_config_decontam_sa"
    expected = checks.oracle_rows(data, [name])[name]
    from chewdata_spark.queries import all_oracles

    sql = all_oracles()[name]
    for old, new in checks._NEWLINE_FIXES:
        sql = sql.replace(old, new)
    con = checks._connection(data)
    con.execute(f"CREATE TABLE o AS {sql}")
    _write(con, "SELECT * FROM o", str(tmp_path / "good" / "sa"))
    assert checks.check_sa(str(tmp_path / "good"), expected, manifest) == []
    # put one planted leak back into its host document
    leak = next(lk for lk in manifest["leaks"]
                if con.sql(f"SELECT 1 FROM o WHERE doc_id = {lk['into']}").fetchone())
    con.execute("UPDATE o SET clean_text = clean_text || ' ' || $t WHERE doc_id = $d",
                {"t": leak["text"], "d": leak["into"]})
    _write(con, "SELECT * FROM o", str(tmp_path / "bad" / "sa"))
    problems = checks.check_sa(str(tmp_path / "bad"), expected, manifest)
    assert any("leak" in p for p in problems)


def test_stream_survivor_corruption_flagged(tmp_path):
    data = str(tmp_path / "stream")
    manifest = gen.gen_stream(data, SEED, {**gen.SIZES["stream"], "files": 3})
    con = duckdb.connect()
    con.execute(f"CREATE TABLE s AS SELECT * FROM read_json('{data}/backlog/*.jsonl') "
                f"WHERE doc_id IN (SELECT unnest({manifest['survivors']}))")
    _write(con, "SELECT * FROM s", str(tmp_path / "good" / "stream"))
    assert checks.check_stream(str(tmp_path / "good"), manifest) == []
    # a duplicate that kept a later id instead of the group's minimum
    keep = manifest["duplicate_groups"][0][0]
    text = con.sql(f"SELECT text FROM s WHERE doc_id = {keep}").fetchone()[0]
    dup = con.sql(f"SELECT max(doc_id) FROM read_json('{data}/backlog/*.jsonl') "
                  "WHERE text = $t", params={"t": text}).fetchone()[0]
    con.execute(f"UPDATE s SET doc_id = {dup} WHERE doc_id = {keep}")
    _write(con, "SELECT * FROM s", str(tmp_path / "bad" / "stream"))
    assert checks.check_stream(str(tmp_path / "bad"), manifest)


def test_check_that_raises_counts_as_failed(tmp_path):
    from concurrent.futures import ThreadPoolExecutor

    import run

    manifest = gen.gen_stream(str(tmp_path / "in"), SEED, {**gen.SIZES["stream"], "files": 1})
    # an output without the doc_id column makes check_stream raise
    _write(duckdb.connect(), "SELECT 1 AS id", str(tmp_path / "bad" / "stream"))
    with ThreadPoolExecutor(1) as pool:
        futs = [pool.submit(checks.check_stream, str(tmp_path / "bad"), manifest)]
        problems = run.check_problems(futs)
    assert problems and "raised ValueError" in problems[0]


def test_generators_are_seeded(tmp_path):
    a = gen.gen_stream(str(tmp_path / "a"), 1, gen.SIZES["stream"])
    b = gen.gen_stream(str(tmp_path / "b"), 1, gen.SIZES["stream"])
    c = gen.gen_stream(str(tmp_path / "c"), 2, gen.SIZES["stream"])
    assert a == b and a != c
    read = lambda d: open(os.path.join(d, "backlog", "part-00000.jsonl")).read()  # noqa: E731
    assert read(tmp_path / "a") == read(tmp_path / "b") != read(tmp_path / "c")

