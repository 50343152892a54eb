"""Seeded input generators for the pipeline benchmark (numpy + pyarrow only).

Every table is written as ``n_files`` parquet files (at least the core
count, so the scan starts with one task per core). The same seed always
gives the same bytes. Each generator returns a manifest: the file paths,
row/byte counts, and the planted truth the output checks need.

Run as a script it writes one workload's inputs and prints the manifest
as JSON on its last line; the benchmark runs it as a child process, so
generation memory never counts towards the pipeline process's RSS:

    python3 pipebench/gen.py --workload medallion_etl --seed 1 --out DIR --files 4
"""

from __future__ import annotations

import argparse
import json
import os
from typing import Any, Optional

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Workload sizes. Chosen so one steady pass takes a few seconds on a
# 4-core local session (NOTES.md has the probes).
MEDALLION_ORDERS = 15_000
MEDALLION_VIOLATION_SHARE = 0.01
CORPUS_BASE_DOCS = 14
CORPUS_EXACT_GROUPS = 3
CORPUS_NEAR_GROUPS = 3
CORPUS_LOWQ_DOCS = 2
# Quality-filter cost grows with the square of document length once
# redaction is fused into it (NOTES.md), so documents stay short.
CORPUS_TOKENS = (36, 46)
MERGE_KEYS = 50_000
MERGE_BATCHES = 2
MERGE_TOUCH_SHARE = 0.07

_EPOCH_1992 = np.datetime64("1992-01-01")


def _write_split(table: pa.Table, out_dir: str, name: str, n_files: int,
                 part: Optional[np.ndarray] = None) -> dict[str, Any]:
    """Write ``table`` as ``n_files`` parquet files under ``out_dir/name``:
    contiguous slices, or row ``i`` into file ``part[i]``."""
    path = os.path.join(out_dir, name)
    os.makedirs(path, exist_ok=True)
    if part is None:
        part = np.arange(table.num_rows) * n_files // max(table.num_rows, 1)
    files = []
    for i in range(n_files):
        f = os.path.join(path, f"part-{i:03d}.parquet")
        pq.write_table(table.take(np.flatnonzero(part == i)), f)
        files.append(f)
    return {
        "path": path,
        "rows": table.num_rows,
        "files": n_files,
        "bytes": sum(os.path.getsize(f) for f in files),
    }


def _dates(days: np.ndarray) -> np.ndarray:
    return (_EPOCH_1992 + days.astype("timedelta64[D]")).astype(str)


# -- medallion_etl -----------------------------------------------------------

def gen_medallion(rng: np.random.Generator, out_dir: str, n_files: int) -> dict[str, Any]:
    """TPC-H-shaped ``orders`` and ``lineitem`` with raw (string/double)
    columns the silver schema must type, trim and validate. About 1% of
    lineitem rows violate exactly one constraint."""
    n_orders = MEDALLION_ORDERS
    okeys = np.arange(1, n_orders + 1, dtype=np.int64) * 4  # sparse, as in TPC-H
    odays = rng.integers(0, 2400, n_orders)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, n_orders // 10, n_orders, dtype=np.int64),
        "o_orderstatus": rng.choice(np.array(["o", "F ", " p"]), n_orders),
        "o_orderdate": _dates(odays),
        "o_orderpriority": rng.choice(prio, n_orders),
    })

    # A fixed multiset of 1-7 lines per order, so every seed has the same row count.
    lines_per = rng.permutation(np.arange(n_orders) % 7 + 1)
    n = int(lines_per.sum())
    order_idx = np.repeat(np.arange(n_orders), lines_per)
    starts = np.cumsum(lines_per) - lines_per
    linenumber = (np.arange(n) - np.repeat(starts, lines_per) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, n), 2)
    disc = rng.integers(0, 11, n) / 100.0
    tax = rng.integers(0, 9, n) / 100.0
    ship = odays[order_idx] + rng.integers(1, 122, n)
    shipdate = _dates(ship)
    flags = rng.choice(np.array(["a", " N", "r "]), n)
    modes = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])
    shipmode = rng.choice(modes, n)

    # Violations: one rule per violating row, spread over the six rules.
    bad = rng.choice(n, int(n * MEDALLION_VIOLATION_SHARE), replace=False)
    kinds = rng.integers(0, 6, bad.size)
    qty[bad[kinds == 0]] = 0.0                      # quantity out of [1, 50]: drop
    disc[bad[kinds == 1]] = 0.5                     # discount out of [0, 0.1]: drop
    shipdate[bad[kinds == 2]] = "not-a-date"        # unparseable ship date: drop
    price[bad[kinds == 3]] = -price[bad[kinds == 3]]  # non-positive price: drop
    flags[bad[kinds == 4]] = "x"                    # unknown return flag: warn
    shipmode[bad[kinds == 5]] = "BARGE"             # unknown ship mode: warn

    lineitem = pa.table({
        "l_orderkey": okeys[order_idx],
        "l_linenumber": linenumber,
        "l_partkey": rng.integers(1, 20_000, n, dtype=np.int64),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": flags,
        "l_shipdate": shipdate,
        "l_shipmode": shipmode,
        "l_comment": rng.choice(
            np.array(["carefully final", "quickly ironic", "slyly bold",
                      "furiously even", "blithely regular"]), n),
    })
    return {
        "tables": {
            "lineitem": _write_split(lineitem, out_dir, "lineitem", n_files),
            "orders": _write_split(orders, out_dir, "orders", n_files),
        },
        "violation_share": bad.size / n,
        "dropped_rows": int(np.isin(kinds, [0, 1, 2, 3]).sum()),
    }


# -- corpus_dedup ------------------------------------------------------------

_VOCAB_SIZE = 6000
_VOCAB_SEED = 20_240_601
_PII = ["email", "phone", "ssn", "ipv4"]
# The quality gate drops a document when one word 2-gram covers more than
# 10% of its token characters. Words have 3-7 letters, so any 2-gram
# (redacted PII labels included) has at most 14; with at least this many
# characters, and after one word swap of at most 4 characters, every
# ordinary document stays under 9.5%.
_MIN_CHARS = 156


def _words(rng: np.random.Generator, vocab: np.ndarray, n: int) -> list[str]:
    return list(vocab[rng.integers(0, vocab.size, n)])


def _pii_string(rng: np.random.Generator, kind: str, i: int) -> str:
    if kind == "email":
        return f"user{i}.{rng.integers(100, 999)}@mail{rng.integers(1, 9)}.example.org"
    if kind == "phone":
        return f"{rng.integers(200, 999)}-{rng.integers(200, 999)}-{rng.integers(1000, 9999)}"
    if kind == "ssn":
        return f"{rng.integers(100, 899)}-{rng.integers(10, 99)}-{rng.integers(1000, 9999)}"
    return ".".join(str(v) for v in rng.integers(11, 250, 4))


def gen_corpus(rng: np.random.Generator, out_dir: str, n_files: int) -> dict[str, Any]:
    """Documents of ``CORPUS_TOKENS`` tokens over a large vocabulary (so
    ordinary documents pass the quality gate and share no shingles), plus
    exact-duplicate groups (case/whitespace variants of one text),
    near-duplicate groups (an original plus copies with one token
    replaced), low-quality documents the gate must remove, and PII
    strings the redaction step must remove. The composition and the
    multiset of document lengths are the same for every seed; only the
    content and the id order change. Ids are shuffled so group minima
    are spread over the files."""
    # One vocabulary for every seed, so text length in characters varies little.
    fixed = np.random.default_rng(_VOCAB_SEED)
    codes = fixed.integers(97, 123, (_VOCAB_SIZE, 8), dtype=np.uint8)
    lens = fixed.integers(3, 8, _VOCAB_SIZE)
    vocab = np.array([row[:k].tobytes().decode() for row, k in zip(codes, lens)])
    n_texts = CORPUS_BASE_DOCS + CORPUS_EXACT_GROUPS + CORPUS_NEAR_GROUPS
    doc_lens = iter(rng.permutation(
        np.linspace(*CORPUS_TOKENS, n_texts).round().astype(int)))

    texts: list[str] = []
    roles: list[tuple[str, int]] = []  # (role, group)
    pii: list[str] = []

    def base_text(with_pii: Optional[str] = None) -> list[str]:
        n_words = int(next(doc_lens))
        w = _words(rng, vocab, n_words)
        while sum(map(len, w)) < _MIN_CHARS:
            w = _words(rng, vocab, n_words)
        if with_pii is not None:
            s = _pii_string(rng, with_pii, len(texts))
            w.insert(int(rng.integers(0, len(w))), s)
            pii.append(s)
        return w

    for i in range(CORPUS_BASE_DOCS):
        texts.append(" ".join(base_text(_PII[i // 3 % len(_PII)] if i % 3 == 0 else None)))
        roles.append(("base", -1))
    for g in range(CORPUS_EXACT_GROUPS):
        w = " ".join(base_text(_PII[g % len(_PII)]))
        for variant in (w, w.upper(), "  " + w.replace(" ", "\n ", 3) + " "):
            texts.append(variant)
            roles.append(("exact", g))
    for g in range(CORPUS_NEAR_GROUPS):
        w = base_text()
        for c in range(3):
            v = list(w)
            if c:
                v[int(rng.integers(0, len(v)))] = vocab[rng.integers(0, vocab.size)]
            texts.append(" ".join(v))
            roles.append(("near", g))
    for _ in range(CORPUS_LOWQ_DOCS):
        phrase = _words(rng, vocab, 3)
        texts.append(" ".join(phrase * 14))
        roles.append(("lowq", -1))

    n = len(texts)
    ids = rng.permutation(n).astype(np.int64) + 1
    # Deal documents into files by length, so every file (one scan task
    # each) holds the same length mix: the filter's cost per document
    # grows with its length, and the slowest task sets the stage time.
    by_len = np.lexsort((rng.random(n), [len(t.split()) for t in texts]))
    part = np.empty(n, dtype=np.int64)
    part[by_len] = np.arange(n) % n_files
    table = pa.table({
        "doc_id": ids,
        "text": texts,
        "source": rng.choice(np.array(["web", "books", "code"]), n),
    })
    exact: dict[int, list[int]] = {}
    near: dict[int, list[int]] = {}
    lowq: list[int] = []
    for doc_id, (role, g) in zip(ids.tolist(), roles):
        if role == "exact":
            exact.setdefault(g, []).append(doc_id)
        elif role == "near":
            near.setdefault(g, []).append(doc_id)
        elif role == "lowq":
            lowq.append(doc_id)
    dup_members = sum(len(v) - 1 for v in exact.values()) + sum(
        len(v) - 1 for v in near.values())
    return {
        "tables": {"documents": _write_split(table, out_dir, "documents", n_files, part)},
        "exact_groups": list(exact.values()),
        "near_groups": list(near.values()),
        "low_quality": lowq,
        "pii": pii,
        "duplicate_share": dup_members / n,
    }


# -- incremental_merge ---------------------------------------------------------

def _dimension(rng: np.random.Generator, keys: np.ndarray, version: int) -> dict[str, Any]:
    n = keys.size
    return {
        "cust_key": keys.astype(np.int64),
        "name": np.char.add("Customer#", keys.astype(str)),
        "segment": rng.choice(np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"]), n),
        "nation": rng.integers(0, 25, n).astype(np.int32),
        "balance": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "phone": np.char.add("27-", rng.integers(1_000_000, 9_999_999, n).astype(str)),
        "version": np.full(n, version, dtype=np.int32),
    }


def gen_merge(rng: np.random.Generator, out_dir: str, n_files: int) -> dict[str, Any]:
    """A keyed dimension (the base snapshot) and a fixed sequence of
    change batches. Each batch touches ``MERGE_TOUCH_SHARE`` of the key
    count: 4/7 updates of existing keys (new attribute values), 2/7
    inserts of new keys, 1/7 unchanged re-sends. Batches touch disjoint
    keys, so every update is one SCD2 history row."""
    n = MERGE_KEYS
    keys = np.arange(1, n + 1, dtype=np.int64)
    base = _dimension(rng, keys, 0)
    tables = {"base": _write_split(pa.table(base), out_dir, "base", n_files)}
    touch = int(n * MERGE_TOUCH_SHARE)
    n_upd, n_ins = touch * 4 // 7, touch * 2 // 7
    n_same = touch - n_upd - n_ins
    pool = rng.permutation(keys)
    next_key = n + 1
    batches = []
    for b in range(MERGE_BATCHES):
        take = pool[b * (n_upd + n_same):(b + 1) * (n_upd + n_same)]
        upd, same = take[:n_upd], take[n_upd:]
        ins = np.arange(next_key, next_key + n_ins, dtype=np.int64)
        next_key += n_ins
        changed = _dimension(rng, np.concatenate([upd, ins]), b + 1)
        idx = same - 1
        resend = {k: v[idx] for k, v in base.items()}
        cols = {k: np.concatenate([changed[k], resend[k]]) for k in base}
        order = rng.permutation(touch)
        batch = pa.table({k: v[order] for k, v in cols.items()})
        name = f"batch_{b:02d}"
        tables[name] = _write_split(batch, out_dir, name, n_files)
        batches.append({"name": name, "updates": int(n_upd), "inserts": int(n_ins),
                        "resends": int(n_same)})
    return {
        "tables": tables,
        "batches": batches,
        "change_share": touch / n,
    }


GENERATORS = {
    "medallion_etl": gen_medallion,
    "corpus_dedup": gen_corpus,
    "incremental_merge": gen_merge,
}


def generate(workload: str, seed: int, out_dir: str, n_files: int) -> dict[str, Any]:
    rng = np.random.default_rng(seed)
    manifest = GENERATORS[workload](rng, out_dir, n_files)
    manifest["seed"] = seed
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--files", type=int, required=True)
    args = ap.parse_args()
    print(json.dumps(generate(args.workload, args.seed, args.out, args.files)))


if __name__ == "__main__":
    main()
