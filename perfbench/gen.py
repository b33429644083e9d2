"""Seeded input generators for the benchmark workloads.

Every generator writes its files under one directory plus a
``manifest.json`` that records what it planted, so the output checks in
``checks.py`` never have to trust the program's own output.  The same
seed gives byte-identical files; a different seed gives different ones.

Four input sets:

- ``etl``:    the FIXTURES.md section 1 record (14 fields plus an ``id``)
              as JSONL part files, a ``mapping`` referential, planted
              invalid records and codes missing from the mapping.
- ``tpch``:   TPC-H-ish ``region .. lineitem`` plus ``events`` parquet
              with the schemas and value domains of the repo's
              analytics tables.
- ``sa``:     a ``documents`` parquet corpus with planted >= 30-char
              repeats across odd-id (training) docs and planted leaks of
              even-id (benchmark) text into training docs.
- ``stream``: a JSONL backlog where about half of the texts are
              duplicates; the manifest holds each group's min-id survivor.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes, per input set.  A run of either workload (set-up, cold
# pass, warm passes, checks) takes under a minute on a 4-core host.
SIZES = {
    "etl": {"records": 120_000, "parts": 8, "codes": 120, "missing_codes": 12,
            "invalid_frac": 0.05},
    "tpch": {"sf": 0.12},
    "sa": {"docs": 300, "sources": 8, "repeat_phrases": 12, "repeat_copies": 4,
           "leaks": 16},
    "stream": {"files": 8, "rows_per_file": 40, "distinct_frac": 0.5},
}

ETL_RULES = {
    "number_positive": ("{{ input.number >= 0 }}", "The number field value must be positive"),
    "filesize_bounded": ("{{ input.filesize <= 5000000 }}", "The filesize must be at most 5000000"),
}
ETL_SEPARATOR = " & "


def _write_json(path: str, obj) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh, sort_keys=True)


def _words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct pronounceable lowercase words."""
    cons, vow = "bcdfghjklmnprstvz", "aeiou"
    out: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(2, 4))
        out.add("".join(cons[rng.integers(len(cons))] + vow[rng.integers(len(vow))]
                        for _ in range(k)))
    return sorted(out)


# -- etl ------------------------------------------------------------------


def gen_etl(out: str, seed: int, size: dict | None = None) -> dict:
    size = size or SIZES["etl"]
    rng = np.random.default_rng([seed, 1])
    n, parts = size["records"], size["parts"]
    n_codes, n_missing = size["codes"], size["missing_codes"]
    rec_dir = os.path.join(out, "records")
    os.makedirs(rec_dir, exist_ok=True)

    number = rng.integers(0, 10_000, n)
    filesize = rng.integers(1_000, 5_000_000, n)
    # planted invalid records: a third break each rule, a third both
    invalid = np.sort(rng.choice(n, int(n * size["invalid_frac"]), replace=False))
    kind = rng.integers(0, 3, len(invalid))
    number[invalid[kind != 1]] = -rng.integers(1, 1_000, int((kind != 1).sum()))
    filesize[invalid[kind != 0]] = rng.integers(5_000_001, 9_000_000, int((kind != 0).sum()))
    code = rng.integers(0, n_codes, n)
    days = rng.integers(0, 3_650, n)
    rounds = rng.integers(0, 100_000, n) / 1000.0
    boolean = rng.integers(0, 2, n)
    special = rng.integers(0, 3, n)
    perm = rng.integers(0, 6, n)
    string_k = rng.integers(0, 50, n)

    perms = ["A,B,C", "A,C,B", "B,A,C", "B,C,A", "C,A,B", "C,B,A"]
    specials = ["é", "à", "€"]
    epoch = dt.date(2015, 1, 1)
    dates = [(epoch + dt.timedelta(days=int(d))).isoformat() for d in range(3_650)]
    bounds = np.linspace(0, n, parts + 1).astype(int)
    for p in range(parts):
        lines = []
        for i in range(bounds[p], bounds[p + 1]):
            rec = {
                "id": i,
                "number": int(number[i]),
                "group": 1456,
                "string": f"value to test {string_k[i]}",
                "long-string": "Long val\nto test",
                "boolean": bool(boolean[i]),
                "special_char": specials[special[i]],
                "rename_this": "field must be renamed",
                "date": dates[days[i]],
                "filesize": int(filesize[i]),
                "round": float(rounds[i]),
                "url": "?search=test me",
                "list_to_sort": perms[perm[i]],
                "code": f"code_{code[i]:04d}",
                "remove_field": "field to remove",
            }
            lines.append(json.dumps(rec, ensure_ascii=False))
        with open(os.path.join(rec_dir, f"part-{p:05d}.jsonl"), "w") as fh:
            fh.write("\n".join(lines) + "\n")

    # the mapping covers every code except the last ``n_missing``
    with open(os.path.join(out, "mapping.jsonl"), "w") as fh:
        for c in range(n_codes - n_missing):
            fh.write(json.dumps({"mapping_code": f"code_{c:04d}",
                                 "mapping_value": f"value mapped {c}"}) + "\n")

    msgs = [ETL_RULES["number_positive"][1], ETL_RULES["filesize_bounded"][1]]
    expected_err = {
        str(int(i)): ETL_SEPARATOR.join(m for m, bad in zip(msgs, (k != 1, k != 0)) if bad)
        for i, k in zip(invalid, kind)
    }
    manifest = {
        "records": n,
        "invalid": expected_err,
        "missing_codes": [f"code_{c:04d}" for c in range(n_codes - n_missing, n_codes)],
        "missing_code_records": int((code >= n_codes - n_missing).sum()),
        "sum_number": int(number.sum()),
    }
    _write_json(os.path.join(out, "manifest.json"), manifest)
    return manifest


# -- tpch -----------------------------------------------------------------


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = int(base.timestamp() * 1_000_000) + seconds.astype(np.int64) * 1_000_000
    return pa.array(us, type=pa.timestamp("us"))


def gen_tpch(out: str, seed: int, size: dict | None = None) -> dict:
    size = size or SIZES["tpch"]
    rng = np.random.default_rng([seed, 2])
    sf = size["sf"]
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_events = int(1_000_000 * sf)
    os.makedirs(out, exist_ok=True)
    base = dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc).replace(tzinfo=None)
    base_ev = dt.datetime(2024, 1, 1)

    def save(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    save("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": regions})
    save("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    save("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    save("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array(["large", "small", "hot", "cold", "red", "blue"])
    noun = np.array(["ring", "bolt", "gear", "pipe", "lamp", "nut"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    save("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                              noun[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + np.arange(n_part) % 1000 / 10.0,
    })
    odate = rng.integers(0, 2_400, n_ord) * 86_400
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    save("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": rng.integers(100_191, 49_999_318, n_ord) / 100.0,
        "o_orderdate": _ts(base, odate),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    })
    per = rng.integers(1, 8, n_ord)
    n_li = int(per.sum())
    okey = np.repeat(np.arange(n_ord), per)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1
    # whole-dollar-hundreds prices: every revenue/charge term is an exact
    # cent amount, so ROUND(SUM(..), 2) cannot tie on summation order
    save("lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": rng.integers(9, 1_050, n_li) * 100.0,
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(base, odate[okey] + rng.integers(1, 122, n_li) * 86_400),
    })
    ev_secs = np.sort(rng.integers(0, 30 * 86_400, n_events))
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    save("events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(base_ev, ev_secs),
        "user_id": pa.array(rng.integers(0, n_cust, n_events), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, n_events)],
        "value": rng.integers(0, 56_022, n_events) / 100.0,
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_events).astype(str)), "}"),
    })
    manifest = {"sf": sf, "rows": {"customer": n_cust, "supplier": n_supp, "part": n_part,
                                   "orders": n_ord, "lineitem": n_li, "events": n_events}}
    _write_json(os.path.join(out, "manifest.json"), manifest)
    return manifest


# -- sa -------------------------------------------------------------------


def gen_sa(out: str, seed: int, size: dict | None = None) -> dict:
    size = size or SIZES["sa"]
    rng = np.random.default_rng([seed, 3])
    n_docs = size["docs"]
    vocab = _words(rng, 300)
    os.makedirs(out, exist_ok=True)

    def phrase(lo: int, hi: int) -> str:
        return " ".join(vocab[k] for k in rng.integers(0, len(vocab), int(rng.integers(lo, hi))))

    # docs as lists of lines; odd ids are training, even ids benchmark
    docs = [[phrase(8, 30) for _ in range(int(rng.integers(1, 4)))] for _ in range(n_docs)]
    odd = np.arange(1, n_docs, 2)
    even = np.arange(0, n_docs, 2)

    def insert(doc_id: int, span: str) -> None:
        lines = docs[doc_id]
        j = int(rng.integers(len(lines)))
        words = lines[j].split(" ")
        at = int(rng.integers(len(words) + 1))
        lines[j] = " ".join(words[:at] + [span] + words[at:])

    repeats = []
    for _ in range(size["repeat_phrases"]):
        span = phrase(7, 10)
        while len(span) < 30:
            span += " " + vocab[int(rng.integers(len(vocab)))]
        hosts = sorted(int(d) for d in rng.choice(odd, size["repeat_copies"], replace=False))
        for d in hosts:
            insert(d, span)
        repeats.append({"text": span, "docs": hosts})

    leaks = []
    sources = rng.choice(even, size["leaks"], replace=False)
    targets = rng.choice(odd, size["leaks"], replace=False)
    for src, dst in zip(sources, targets):
        # a span of one line: the benchmark text holds it verbatim
        words = max(docs[int(src)], key=len).split(" ")
        k = min(len(words), 9)
        at = int(rng.integers(len(words) - k + 1))
        span = " ".join(words[at:at + k])
        if len(span) < 30:
            continue
        insert(int(dst), span)
        leaks.append({"text": span, "from": int(src), "into": int(dst)})

    texts = ["\n".join(lines) for lines in docs]
    langs = np.array(["de", "en", "es", "fr", "zh"])
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, 5, n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, size["sources"], n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out, "documents.parquet"))
    manifest = {"docs": n_docs, "repeats": repeats, "leaks": leaks,
                "chars": int(sum(len(t) for t in texts))}
    _write_json(os.path.join(out, "manifest.json"), manifest)
    return manifest


# -- stream ---------------------------------------------------------------


def gen_stream(out: str, seed: int, size: dict | None = None) -> dict:
    size = size or SIZES["stream"]
    rng = np.random.default_rng([seed, 4])
    n = size["files"] * size["rows_per_file"]
    n_texts = max(1, int(n * size["distinct_frac"]))
    vocab = _words(rng, 200)
    pool = [" ".join(vocab[k] for k in rng.integers(0, len(vocab), int(rng.integers(6, 16))))
            for _ in range(n_texts)]
    # every pool text appears at least once, the rest are duplicates
    pick = np.concatenate([np.arange(n_texts), rng.integers(0, n_texts, n - n_texts)])
    rng.shuffle(pick)
    back = os.path.join(out, "backlog")
    os.makedirs(back, exist_ok=True)
    survivors: dict[int, int] = {}
    sizes: dict[int, int] = {}
    for f in range(size["files"]):
        rows = []
        for doc_id in range(f * size["rows_per_file"], (f + 1) * size["rows_per_file"]):
            t = int(pick[doc_id])
            survivors.setdefault(t, doc_id)
            sizes[t] = sizes.get(t, 0) + 1
            rows.append(json.dumps({"doc_id": doc_id, "text": pool[t],
                                    "source": f"src{doc_id % 7}"}))
        with open(os.path.join(back, f"part-{f:05d}.jsonl"), "w") as fh:
            fh.write("\n".join(rows) + "\n")
    manifest = {
        "rows": n,
        "files": size["files"],
        "survivors": sorted(survivors.values()),
        "duplicate_groups": sorted([survivors[t], c] for t, c in sizes.items() if c > 1),
    }
    _write_json(os.path.join(out, "manifest.json"), manifest)
    return manifest


GENERATORS = {"etl": gen_etl, "tpch": gen_tpch, "sa": gen_sa, "stream": gen_stream}


def generate(out: str, seed: int, sets: list[str]) -> dict:
    """Write each named input set under ``out/<set>``; return manifests."""
    return {s: GENERATORS[s](os.path.join(out, s), seed) for s in sets}
