"""Seeded input generators for the benchmark, and the open-loop feeder.

Every generator is a pure function of its arguments: the same seed and
sizes write the same files. The engine only ever sees the generated files.

- :func:`tpch_tables` — TPC-H-like ``lineitem``/``orders``/``customer``
  parquet tables plus a CSV copy of ``lineitem`` with unparseable and empty
  cells (the input of the CSV -> cast -> fillna -> CSV pipeline).
- :func:`corpus` — synthetic documents with a controlled near-duplicate
  share, PII density, shared boilerplate passages and language mix.
- :func:`event_files` — event parquet files for the stream, with a set
  share of duplicate and out-of-order events.

Run as a script (``python3 perfbench/gen.py feed ...``) it is the stream's
load generator: it moves pre-generated event files into the inbox on a
fixed schedule that does not slow down when the engine does.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: rows of ``lineitem`` per scale; orders are a quarter, customers 1/40
LINEITEM_ROWS = {"tiny": 20_000, "full": 1_000_000}
#: documents per scale
CORPUS_DOCS = {"tiny": 40, "full": 60}
#: rows per event file per scale; the feeder offers one file per interval
EVENT_ROWS = {"tiny": 50, "full": 400}

CORPUS_NEAR_DUP_SHARE = 0.15
CORPUS_PII_PER_DOC = 0.6
CORPUS_BOILERPLATE_SHARE = 0.2
EVENT_DUP_SHARE = 0.05
EVENT_OOO_SHARE = 0.10

_STOP = {
    "en": ["the", "and", "of", "to", "in", "is", "was", "for", "with", "that"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "nicht", "ein", "auf"],
    "fr": ["le", "la", "les", "et", "est", "dans", "pour", "que", "une", "des"],
    "es": ["el", "los", "las", "es", "en", "para", "por", "una", "del", "como"],
}


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _mark_done(path: str) -> None:
    with open(os.path.join(path, "_DONE"), "w") as fh:
        fh.write("ok\n")


def tpch_tables(out: str, seed: int, scale: str) -> dict[str, int]:
    """Write the TPC-H-like tables under ``out``; returns row counts."""
    n_li = LINEITEM_ROWS[scale]
    n_ord, n_cust = n_li // 4, n_li // 40
    counts = {"lineitem": n_li, "orders": n_ord, "customer": n_cust}
    if _done(out):
        return counts
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    epoch = np.datetime64("1992-01-01T00:00:00", "us")
    day_us = 86_400 * 1_000_000

    # customers 1..n_cust; orders reference only 90% of them, so the outer
    # join in the DAG pipeline has unmatched rows on both sides
    cust = pa.table({
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    pq.write_table(cust, os.path.join(out, "customer.parquet"))

    okeys = np.arange(1, n_ord + 1, dtype=np.int64) * 4
    orders = pa.table({
        "o_orderkey": okeys,
        # +5 %: a few orders name customers that do not exist
        "o_custkey": rng.integers(1, int(n_cust * 1.05) + 1, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(850.0, 550_000.0, n_ord), 2),
        "o_orderdate": epoch + rng.integers(0, 2_400, n_ord) * day_us,
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    pq.write_table(orders, os.path.join(out, "orders.parquet"))

    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2_100.0, n_li), 2)
    lineitem = pa.table({
        "l_orderkey": okeys[rng.integers(0, n_ord, n_li)],
        "l_partkey": rng.integers(1, n_li // 30 + 2, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(1, n_li // 600 + 2, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": epoch + rng.integers(0, 2_500, n_li) * day_us,
    })
    # several row groups, so the scan splits across all task slots
    pq.write_table(lineitem, os.path.join(out, "lineitem.parquet"),
                   row_group_size=max(n_li // 16, 1_000))

    # CSV copy of four columns; ~2 % of the numeric cells are empty or
    # unparseable, so the cast and fillna steps have work to do
    csv_cols = {c: pc.cast(lineitem.column(c), pa.string())
                for c in ("l_orderkey", "l_quantity", "l_extendedprice")}
    for col, bad in (("l_quantity", "n/a"), ("l_extendedprice", "")):
        mask = np.zeros(n_li, dtype=bool)
        mask[rng.choice(n_li, n_li // 50, replace=False)] = True
        csv_cols[col] = pc.if_else(pa.array(mask), bad, csv_cols[col])
    os.makedirs(os.path.join(out, "lineitem_csv"), exist_ok=True)
    pacsv.write_csv(
        pa.table({**csv_cols,
                  "l_returnflag": lineitem.column("l_returnflag")}),
        os.path.join(out, "lineitem_csv", "part-0.csv"),
        pacsv.WriteOptions(quoting_style="none"),
    )
    _mark_done(out)
    return counts


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    cons, vow = list("bcdfghjklmnprstvwz"), list("aeiou")
    words = set()
    while len(words) < size:
        n = int(rng.integers(2, 4))
        words.add("".join(rng.choice(cons) + rng.choice(vow) for _ in range(n)))
    return sorted(words)


def _pii(rng: np.random.Generator) -> str:
    kind = int(rng.integers(0, 4))
    a, b, c = (int(x) for x in rng.integers(0, 10_000, 3))
    if kind == 0:
        return f"user{a}.{b}@mail{c % 50}.example.com"
    if kind == 1:
        return f"{200 + a % 700:03d}-{b % 1000:03d}-{c:04d}"
    if kind == 2:
        return f"{100 + a % 800:03d}-{b % 100:02d}-{c:04d}"
    return f"10.{a % 256}.{b % 256}.{c % 256}"


def corpus(out: str, seed: int, scale: str) -> dict[str, int]:
    """Write ``documents.parquet`` (doc_id, text, source) under ``out``.

    The amount of work is the same for every seed: document lengths are a
    fixed multiset, and the counts of near-duplicates, boilerplate
    passages, PII items, digit-heavy pages and documents per language are
    fixed shares. The seed decides which words, where, and the order."""
    n = CORPUS_DOCS[scale]
    counts = {"documents": n}
    if _done(out):
        return counts
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(_vocab(np.random.default_rng(7), 3_000), dtype=object)
    boiler = [" ".join(rng.choice(vocab, 14)) for _ in range(6)]
    n_dup = round(n * CORPUS_NEAR_DUP_SHARE)
    n_orig = n - n_dup
    lengths = rng.permutation(np.linspace(40, 220, n_orig).round().astype(int))
    langs = rng.permutation(np.repeat(["en", "de", "fr", "es"], [
        n_orig - 3 * round(n_orig * 0.1)] + [round(n_orig * 0.1)] * 3))
    digit_heavy = set(rng.choice(n_orig, round(n_orig * 0.08), replace=False).tolist())
    boilered = set(rng.choice(n_orig, round(n_orig * CORPUS_BOILERPLATE_SHARE),
                              replace=False).tolist())
    pii_docs = rng.integers(0, n_orig, round(n_orig * CORPUS_PII_PER_DOC))
    docs: list[list[str]] = []
    for i in range(n_orig):
        toks = vocab[rng.integers(0, len(vocab), lengths[i])]
        stop = rng.random(lengths[i]) < 0.3
        toks[stop] = np.array(_STOP[str(langs[i])], dtype=object)[
            rng.integers(0, 10, int(stop.sum()))]
        toks = list(toks)
        if i in digit_heavy:  # digit-heavy, low-quality page
            toks[1::2] = [str(d) for d in rng.integers(0, 10**6, len(toks[1::2]))]
        if i in boilered:
            toks.insert(int(rng.integers(0, len(toks))), str(rng.choice(boiler)))
        docs.append(toks)
    for i in pii_docs:
        docs[i].insert(int(rng.integers(0, len(docs[i]))), _pii(rng))
    # near-duplicates of the originals at evenly spaced length ranks, so
    # their total length is the same for every seed; ~4 % of tokens replaced
    by_length = np.argsort(lengths, kind="stable")
    for src in by_length[np.linspace(0, n_orig - 1, n_dup).round().astype(int)]:
        toks = list(docs[src])
        for j in rng.choice(len(toks), max(1, len(toks) // 25), replace=False):
            toks[j] = str(rng.choice(vocab))
        docs.append(toks)
    order = rng.permutation(n)
    table = pa.table({
        "doc_id": np.arange(1, n + 1, dtype=np.int64),
        "text": [" ".join(docs[k]) for k in order],
        "source": [f"src{int(k)}" for k in rng.integers(0, 8, n)],
    })
    pq.write_table(table, os.path.join(out, "documents.parquet"))
    _mark_done(out)
    return counts


def event_files(out: str, seed: int, scale: str, n_files: int) -> dict[str, int]:
    """Write ``ev-NNNNNN.parquet`` files under ``out``: file 0 is the
    warm-up file, files 1.. are offered by the feeder. Event time advances
    one second per file; a share of each file's events repeat an event of
    the previous files (at-least-once redelivery) or carry an event time up
    to a minute older than the file's (out of order, inside the watermark).
    Returns counts of files, rows and distinct event ids."""
    rows = EVENT_ROWS[scale]
    if _done(out):
        with open(os.path.join(out, "_DONE.json")) as fh:
            return json.load(fh)
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    base_us = 1_700_000_000 * 1_000_000 + int(rng.integers(0, 10**9)) * 1_000
    next_id, recent = 1, []
    total_rows = 0
    for f in range(n_files + 1):
        n_dup = int(rows * EVENT_DUP_SHARE) if recent else 0
        ids = np.arange(next_id, next_id + rows - n_dup, dtype=np.int64)
        next_id += len(ids)
        ts = base_us + f * 1_000_000 + rng.integers(0, 1_000_000, len(ids))
        ooo = rng.random(len(ids)) < EVENT_OOO_SHARE
        ts[ooo] -= rng.integers(1_000_000, 60_000_000, int(ooo.sum()))
        users = rng.integers(1, 5_000, len(ids))
        etype = rng.choice(["click", "view", "cart", "buy"], len(ids))
        value = np.round(rng.uniform(0, 500, len(ids)), 2)
        if n_dup:
            pool = pa.concat_tables(recent)
            pick = rng.choice(pool.num_rows, n_dup, replace=False)
            dup = pool.take(pick)
            ids = np.concatenate([ids, dup.column("event_id").to_numpy()])
            ts = np.concatenate([ts, dup.column("ts").cast(pa.int64()).to_numpy()])
            users = np.concatenate([users, dup.column("user_id").to_numpy()])
            etype = np.concatenate([etype, dup.column("event_type").to_numpy(zero_copy_only=False)])
            value = np.concatenate([value, dup.column("value").to_numpy()])
        table = pa.table({
            "event_id": ids,
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": users.astype(np.int64),
            "event_type": etype,
            "value": value,
        })
        pq.write_table(table, os.path.join(out, f"ev-{f:06d}.parquet"))
        total_rows += table.num_rows
        recent = (recent + [table.slice(0, rows - n_dup)])[-3:]
    counts = {"files": n_files, "rows": total_rows, "distinct": next_id - 1}
    with open(os.path.join(out, "_DONE.json"), "w") as fh:
        json.dump(counts, fh)
    _mark_done(out)
    return counts


def feed(staging: str, inbox: str, start: float, interval: float, n_files: int,
         log_path: str) -> None:
    """Open-loop feeder: file ``i`` (1-based) is due at
    ``start + (i - 1) * interval`` and is renamed into the inbox as
    ``ev-NNNNNN-due<epoch_us>.parquet`` (atomic, so the stream never sees
    a partial file). The schedule never waits for the engine. Writes one
    JSON line per file: index, due and actual move time."""
    with open(log_path, "w") as log:
        for i in range(1, n_files + 1):
            due = start + (i - 1) * interval
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            name = f"ev-{i:06d}-due{int(due * 1e6)}.parquet"
            os.link(os.path.join(staging, f"ev-{i:06d}.parquet"),
                    os.path.join(inbox, "." + name))
            os.rename(os.path.join(inbox, "." + name), os.path.join(inbox, name))
            log.write(json.dumps({"i": i, "due": due, "moved": time.time()}) + "\n")
            log.flush()


def main(argv: list[str]) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    f = sub.add_parser("feed", help="offer event files on a fixed schedule")
    f.add_argument("--staging", required=True)
    f.add_argument("--inbox", required=True)
    f.add_argument("--start", type=float, required=True)
    f.add_argument("--interval", type=float, required=True)
    f.add_argument("--files", type=int, required=True)
    f.add_argument("--log", required=True)
    a = p.parse_args(argv)
    feed(a.staging, a.inbox, a.start, a.interval, a.files, a.log)


if __name__ == "__main__":
    main(sys.argv[1:])
