"""Seeded input generators for the three workloads.

Everything the engine reads in a benchmark run comes from here, built
from ``--seed`` alone: the same seed gives byte-identical inputs. The
generators use numpy and pyarrow only, so building inputs never touches
the engine under test.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_TABLES = ("region", "nation", "customer", "supplier", "part",
               "orders", "lineitem", "events")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_DAY_US = 86_400 * 1_000_000
_ORDER_EPOCH_DAY = np.datetime64("1995-01-01", "D")
_EVENT_EPOCH_US = np.datetime64("2024-01-01T00:00:00", "us")


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _days(rng: np.random.Generator, n: int, span_days: int) -> pa.Array:
    d = _ORDER_EPOCH_DAY + rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def star_schema(seed: int, sf: float) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema plus an ``events`` table, with the column
    names, types and value domains of the engine's fixture contract
    (FIXTURES.md, group B). Row counts scale with ``sf`` as in TPC-H
    (lineitem = 6M x sf)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = n_ord * 4
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(_REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, 2404),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, 2499)})
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(_EVENT_EPOCH_US + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One parquet file per table (``<out_dir>/<name>.parquet``), the
    layout the engine's Catalog reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# -- dedup corpus -----------------------------------------------------------

_VOCAB_SIZE = 5000


@dataclass
class Corpus:
    """Documents with planted near-duplicates, embeddings with planted
    near-duplicate vectors, and a top-k search set.

    ``planted_doc_pairs`` are (original, copy) id pairs where the copy is
    the original with a few tokens substituted; ``planted_vec_pairs``
    likewise for vectors perturbed by small noise. ``candidates`` and
    ``queries`` are unit vectors for exact top-k search.
    """
    texts: list[str]
    planted_doc_pairs: set[tuple[int, int]]
    vectors: np.ndarray
    planted_vec_pairs: set[tuple[int, int]]
    candidates: np.ndarray
    queries: np.ndarray


def _unit(rng: np.random.Generator, n: int, dim: int) -> np.ndarray:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def corpus(seed: int, n_docs: int, dup_share: float, n_vecs: int,
           n_candidates: int, n_queries: int, dim: int) -> Corpus:
    """``n_docs`` documents, ``dup_share`` of which are near-copies of a
    distinct original (one token substituted in a 40-80 token document). Originals draw tokens from a Zipf-like vocabulary, so
    distinct originals share common words but almost never a run of
    three. Document, vector and pair ids are row positions."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.asarray([f"w{i}" for i in range(_VOCAB_SIZE)], dtype=object)
    weights = 1.0 / np.arange(1, _VOCAB_SIZE + 1) ** 0.8
    weights /= weights.sum()
    n_dup = int(round(n_docs * dup_share))
    n_orig = n_docs - n_dup
    lengths = rng.integers(40, 81, n_orig)
    tokens = np.split(rng.choice(_VOCAB_SIZE, int(lengths.sum()), p=weights),
                      np.cumsum(lengths)[:-1])
    texts = [" ".join(vocab[t]) for t in tokens]
    planted: set[tuple[int, int]] = set()
    for j, src in enumerate(rng.choice(n_orig, n_dup, replace=False)):
        tok = tokens[src].copy()
        tok[rng.integers(0, len(tok))] = rng.integers(0, _VOCAB_SIZE)
        texts.append(" ".join(vocab[tok]))
        planted.add((int(src), n_orig + j))

    vrng = np.random.default_rng([seed, 3])
    n_vdup = int(round(n_vecs * dup_share))
    base = _unit(vrng, n_vecs - n_vdup, dim)
    vsrc = vrng.choice(len(base), n_vdup, replace=False)
    copies = base[vsrc] + 0.01 * vrng.standard_normal((n_vdup, dim)).astype(np.float32)
    copies /= np.linalg.norm(copies, axis=1, keepdims=True)
    vectors = np.vstack([base, copies])
    vplanted = {(int(s), len(base) + j) for j, s in enumerate(vsrc)}
    return Corpus(texts, planted, vectors, vplanted,
                  _unit(vrng, n_candidates, dim), _unit(vrng, n_queries, dim))


# -- hourly lake payloads -----------------------------------------------------

_FIRST = ["anna", "marc", "julie", "paul", "lea", "hugo", "emma", "louis",
          "chloe", "lucas", "sarah", "theo", "ines", "nathan", "clara", "jules",
          "alex", "sam", "camille", "dominique"]
_FIRST_GENDER = {
    "anna": "female", "marc": "male", "julie": "female", "paul": "male",
    "lea": "female", "hugo": "male", "emma": "female", "louis": "male",
    "chloe": "mostly_female", "lucas": "mostly_male", "sarah": "female",
    "theo": "male", "ines": "female", "nathan": "male", "clara": "female",
    "jules": "mostly_male", "alex": "andy", "sam": "andy",
    "camille": "andy", "dominique": "unknown"}


def gender_lookup() -> pa.Table:
    """The ``name_gender_lookup`` fixture (FIXTURES.md): first name ->
    gender class, including 'mostly_*', 'andy' and 'unknown'."""
    return pa.table({"first_name": list(_FIRST_GENDER),
                     "gender": list(_FIRST_GENDER.values())})


@dataclass
class HourlyRun:
    """One hourly snapshot: per-account record lists."""
    run_ts: str
    payloads: dict[str, list[dict]]


def hourly_runs(seed: int, accounts: int, records: int, churn: float,
                runs: int) -> list[HourlyRun]:
    """``runs`` consecutive hourly snapshots of ``accounts`` following
    lists. Each account starts with ``records`` distinct records; each
    later run drops ``churn`` x records of the previous snapshot and adds
    as many new ones. Usernames embed a globally unique serial, so two
    records never share a username; about one record in ten has an empty
    or missing ``full_name``, as real payloads do."""
    rng = np.random.default_rng([seed, 4])
    serial = 0
    out: list[HourlyRun] = []
    current: dict[str, list[dict]] = {}

    def new_records(n: int) -> list[dict]:
        nonlocal serial
        firsts = rng.integers(0, len(_FIRST), n)
        kinds = rng.integers(0, 20, n)
        recs = []
        for f, k in zip(firsts, kinds):
            first = _FIRST[f]
            user = f"{first}.{serial}" if k < 14 else f"user_{serial}"
            full = (f"{first.title()} Name{serial % 97}" if k < 18
                    else ("" if k == 18 else None))
            recs.append({"username": user, "full_name": full})
            serial += 1
        return recs

    n_churn = int(round(records * churn))
    for r in range(runs):
        for a in range(accounts):
            acct = f"acct{a}"
            if r == 0:
                current[acct] = new_records(records)
            else:
                prev = current[acct]
                drop = set(rng.choice(len(prev), n_churn, replace=False).tolist())
                current[acct] = ([x for i, x in enumerate(prev) if i not in drop]
                                 + new_records(n_churn))
        out.append(HourlyRun(f"{r % 24:02d}00",
                             {k: list(v) for k, v in current.items()}))
    return out
