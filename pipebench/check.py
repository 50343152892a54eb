"""Output checks for the pipeline benchmark, independent of the code under test.

DuckDB recomputes the medallion gold table and the final merge state
from the generated inputs; the corpus output is checked against the
truth the generator planted and, for its near-duplicate stage, against
a pure-Python MinHash LSH written from the stage's specification. Runs as its own process, so the checks add
nothing to the pipeline process's RSS:

    python3 pipebench/check.py medallion_etl '{"data_dir": ..., "target": ...}'

Prints one JSON object ``{"ok": bool, "detail": str}`` as its last line.
"""

from __future__ import annotations

import hashlib
import json
import random
import re
import sys
from typing import Any

import duckdb


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def _symmetric_diff(con, expected: str, actual: str) -> tuple[int, int, int]:
    n_exp = con.sql(f"SELECT count(*) FROM ({expected})").fetchone()[0]
    missing = con.sql(f"SELECT count(*) FROM (({expected}) EXCEPT ALL ({actual}))").fetchone()[0]
    extra = con.sql(f"SELECT count(*) FROM (({actual}) EXCEPT ALL ({expected}))").fetchone()[0]
    return n_exp, missing, extra


def check_medallion(a: dict[str, Any]) -> tuple[bool, str]:
    d = a["data_dir"]
    expected = f"""
        WITH li AS (
            SELECT l_orderkey,
                   CAST(l_quantity AS DECIMAL(15,2)) AS qty,
                   CAST(l_extendedprice AS DECIMAL(15,2)) AS price,
                   CAST(l_discount AS DECIMAL(15,2)) AS disc,
                   CAST(try_strptime(l_shipdate, '%Y-%m-%d') AS DATE) AS ship
            FROM {_parquet(d + '/lineitem')}
        ), silver AS (
            SELECT * FROM li
            WHERE qty BETWEEN 1 AND 50 AND price > 0
              AND disc BETWEEN 0 AND 0.1 AND ship IS NOT NULL
        ), o AS (
            SELECT o_orderkey, o_custkey, upper(trim(o_orderstatus)) AS status,
                   CAST(o_orderdate AS DATE) AS odate, o_orderpriority
            FROM {_parquet(d + '/orders')}
        )
        SELECT l_orderkey AS order_key, o_custkey AS cust_key,
               odate AS order_date, o_orderpriority AS order_priority,
               CAST(sum(price * (1 - disc)) AS DECIMAL(38,4)) AS revenue,
               CAST(sum(qty) AS DECIMAL(25,2)) AS quantity,
               count(*) AS line_count, max(ship) AS last_ship,
               sha256(CAST(l_orderkey AS VARCHAR)) AS hash_key
        FROM silver JOIN o ON l_orderkey = o_orderkey
        WHERE ship <= DATE '1998-08-01' AND status IN ('O', 'F')
        GROUP BY l_orderkey, o_custkey, odate, o_orderpriority"""
    actual = f"""
        SELECT order_key, cust_key, order_date, order_priority,
               CAST(revenue AS DECIMAL(38,4)) AS revenue,
               CAST(quantity AS DECIMAL(25,2)) AS quantity,
               line_count, last_ship, hash_key
        FROM {_parquet(a['target'])}"""
    con = duckdb.connect()
    n, missing, extra = _symmetric_diff(con, expected, actual)
    audit_nulls = con.sql(
        f"SELECT count(*) FROM {_parquet(a['target'])} "
        "WHERE updated_at IS NULL OR created_at IS NULL").fetchone()[0]
    ok = n > 0 and missing == 0 and extra == 0 and audit_nulls == 0
    return ok, f"gold rows={n} missing={missing} extra={extra} audit_nulls={audit_nulls}"


def _norm(text: str) -> str:
    return re.sub(r"\s+", " ", text.lower()).strip()


# The near-duplicate stage as workloads.CorpusDedup calls it:
# minhash_lsh_pairs(portable=True, min_est_jaccard=0.5) with its defaults
# (64 permutations, 16 bands, word 3-shingles, coefficient seed 42), then
# connected components keeping each component's minimum id.
MINHASH_PERM, MINHASH_BANDS, MINHASH_K, MINHASH_SEED, MIN_EST_JACCARD = 64, 16, 3, 42, 0.5
MERSENNE_P = (1 << 61) - 1


def minhash_survivors(texts: dict[int, str]) -> set[int]:
    """Reference for the near-duplicate stage, written from its
    specification: lowercase, trim spaces, split on whitespace, distinct
    word k-grams; md5-u32 shingle hashes (first 8 hex digits of md5);
    slot j = min over shingles of (a_j*h + b_j) mod (2^61 - 1), with
    (a_j, b_j) drawn from random.Random(seed); a pair is a candidate when
    any band's slots are all equal and kept when the share of equal
    slots is at least MIN_EST_JACCARD. Returns the ids that are the
    minimum of their connected component."""
    rng = random.Random(MINHASH_SEED)
    coeffs = [(rng.randrange(1, 1 << 31), rng.randrange(0, 1 << 31))
              for _ in range(MINHASH_PERM)]
    sigs = {}
    for doc, text in texts.items():
        toks = re.split(r"[ \t\n\x0b\f\r]+", text.lower().strip(" "))
        shingles = {" ".join(toks[i:i + MINHASH_K]) for i in range(len(toks) - MINHASH_K + 1)}
        hs = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in shingles]
        sigs[doc] = [min(((a * h + b) % MERSENNE_P for h in hs), default=MERSENNE_P)
                     for a, b in coeffs]
    rows = MINHASH_PERM // MINHASH_BANDS
    root = {d: d for d in sigs}

    def find(d: int) -> int:
        while root[d] != d:
            d = root[d]
        return d

    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            sa, sb = sigs[a], sigs[b]
            banded = any(sa[k * rows:(k + 1) * rows] == sb[k * rows:(k + 1) * rows]
                         for k in range(MINHASH_BANDS))
            agree = sum(x == y for x, y in zip(sa, sb)) / MINHASH_PERM
            if banded and agree >= MIN_EST_JACCARD:
                ra, rb = find(a), find(b)
                root[max(ra, rb)] = min(ra, rb)
    return {d for d in ids if find(d) == d}


def check_corpus(a: dict[str, Any]) -> tuple[bool, str]:
    """Planted truth for the YAML steps (redaction, quality gate, exact
    dedup); the minhash_survivors reference for the near-duplicate stage,
    applied to the documents the steps should pass on."""
    con = duckdb.connect()
    rows = con.sql(f"SELECT doc_id, text FROM {_parquet(a['target'])}").fetchall()
    out = {doc_id: text for doc_id, text in rows}
    raw = dict(con.sql(f"SELECT doc_id, text FROM {_parquet(a['documents'])}").fetchall())
    problems = []
    if len(out) != len(rows):
        problems.append("duplicate doc ids")
    normed = [_norm(t) for t in out.values()]
    if len(set(normed)) != len(normed):
        problems.append("two outputs share normalized text")
    blob = "\n".join(normed)
    leaked = [s for s in a["pii"] if s.lower() in blob]
    if leaked:
        problems.append(f"{len(leaked)} planted PII strings survive")
    for group in a["exact_groups"]:
        if set(group) & set(out) != {min(group)}:
            problems.append(f"exact group {sorted(group)} kept {sorted(set(group) & set(out))}")
    lowq = set(a["low_quality"]) & set(out)
    if lowq:
        problems.append(f"low-quality docs kept: {sorted(lowq)}")
    planted = set().union(*a["exact_groups"], *a["near_groups"], a["low_quality"])
    ordinary = set(raw) - planted
    lost = ordinary - set(out)
    if lost:
        problems.append(f"{len(lost)} ordinary docs removed")
    # What the steps pass on. A document the near-duplicate stage removed
    # is absent from the output, so its text is taken from the input:
    # near-duplicate documents carry no PII, so redaction leaves them as
    # they are.
    stepped = set(raw) - set(a["low_quality"]) - {
        d for g in a["exact_groups"] for d in g if d != min(g)}
    expected = minhash_survivors({d: out.get(d, raw[d]) for d in stepped})
    missing, extra = expected - set(out), set(out) - expected
    if missing or extra:
        problems.append(f"near-dup stage: missing {sorted(missing)} extra {sorted(extra)}")
    # Planted recall is a property of the MinHash configuration, not of
    # the output's correctness: reported, not checked (NOTES.md).
    near_removed = sum(len(set(g) - set(out)) for g in a["near_groups"])
    near_total = sum(len(g) - 1 for g in a["near_groups"])
    detail = (f"kept={len(out)} planted_near_dup_recall={near_removed}/{near_total}"
              + ("; " + "; ".join(problems[:5]) if problems else ""))
    return not problems, detail


def check_merge(a: dict[str, Any]) -> tuple[bool, str]:
    cols = "cust_key, name, segment, nation, balance, phone, version"
    batches = " UNION ALL ".join(
        f"SELECT {cols}, {i + 1} AS seq FROM {_parquet(p)}"
        for i, p in enumerate(a["batches"]))
    expected = f"""
        SELECT {cols}, sha256(CAST(cust_key AS VARCHAR)) AS hash_key FROM (
            SELECT *, row_number() OVER (PARTITION BY cust_key ORDER BY seq DESC) AS rn
            FROM (SELECT {cols}, 0 AS seq FROM {_parquet(a['base'])} UNION ALL {batches})
        ) WHERE rn = 1"""
    con = duckdb.connect()
    problems = []
    n, missing, extra = _symmetric_diff(
        con, expected, f"SELECT {cols}, hash_key FROM {_parquet(a['merge_target'])}")
    if missing or extra:
        problems.append(f"merge state missing={missing} extra={extra}")
    scd = _parquet(a["scd2_target"])
    _, cur_missing, cur_extra = _symmetric_diff(
        con, expected, f"SELECT {cols}, hash_key FROM {scd} WHERE is_current")
    if cur_missing or cur_extra:
        problems.append(f"scd2 current missing={cur_missing} extra={cur_extra}")
    multi = con.sql(f"SELECT count(*) FROM (SELECT cust_key FROM {scd} WHERE is_current "
                    "GROUP BY cust_key HAVING count(*) <> 1)").fetchone()[0]
    if multi:
        problems.append(f"{multi} keys without exactly one current row")
    history = con.sql(f"SELECT count(*) FROM {scd} WHERE NOT is_current").fetchone()[0]
    if history != a["updates"]:
        problems.append(f"scd2 history rows={history}, changed keys={a['updates']}")
    return not problems, (f"keys={n} history={history}"
                          + ("; " + "; ".join(problems) if problems else ""))


CHECKS = {
    "medallion_etl": check_medallion,
    "corpus_dedup": check_corpus,
    "incremental_merge": check_merge,
}


def main() -> None:
    workload, args = sys.argv[1], json.loads(sys.argv[2])
    try:
        ok, detail = CHECKS[workload](args)
    except duckdb.Error as err:
        ok, detail = False, f"check query failed: {err}"
    print(json.dumps({"ok": ok, "detail": detail}))


if __name__ == "__main__":
    main()
