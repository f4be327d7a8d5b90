"""Seeded input generators for the three benchmark workloads.

Every file a workload reads is made here from the run's ``--seed`` and
cached per seed and size under ``<work>/inputs/``, outside any timed
region. The program under test only ever sees these files.

* ``taxi_month``: NYC-taxi CSV files (FIXTURES.md A1) in two batches. The
  second batch adds ``cbd_congestion_fee`` and ``Airport Fee`` (A3), so the
  ETL runs additive schema evolution. Every filter, guard and bucket
  branch of the taxi transform is planted.
* ``star``: the star schema plus ``events`` with the shape of the sf
  fixtures (TESTDATA.md), freshly keyed and row-shuffled per seed.
* ``corpus``: documents with planted exact- and near-duplicate groups, PII
  strings and an overlapping eval set, plus clustered embeddings with a
  query set. ``truth.json`` holds the planted groups and the exact top-10
  neighbours computed in numpy.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TAXI_V1 = [
    "tpep_pickup_datetime",
    "tpep_dropoff_datetime",
    "passenger_count",
    "trip_distance",
    "payment_type",
    "fare_amount",
    "tip_amount",
    "total_amount",
    "PULocationID",
    "DOLocationID",
]
TAXI_V2 = TAXI_V1 + ["cbd_congestion_fee", "Airport Fee"]

# Rows that hit every branch of the taxi transform (taxi_transform_dag.py
# filters, the tip guard and cap, the payment decode, the duration buckets):
# (duration seconds, distance, fare, tip, payment_type, total sign).
_BRANCH_ROWS = [
    (0, 1.0, 5.0, 0.0, 1, 1),  # dropoff == pickup: filtered
    (-300, 1.0, 5.0, 0.0, 1, 1),  # dropoff before pickup: filtered
    (600, 0.0, 5.0, 0.0, 1, 1),  # zero distance: filtered
    (600, -1.5, 5.0, 0.0, 2, 1),  # negative distance: filtered
    (600, 2.0, 9.0, 0.0, 2, -1),  # negative total: filtered
    (900, 3.0, 0.0, 2.0, 4, 1),  # zero fare: tip guard gives 0
    (1200, 2.0, 0.5, 60.0, 1, 1),  # tip far above fare: capped at 999.99
    (299, 0.9, 5.0, 1.0, 1, 1),  # 4:59 -> Very Short
    (300, 1.0, 6.0, 1.0, 2, 1),  # 5:00 -> Short
    (899, 2.0, 9.0, 0.0, 3, 1),  # 14:59 -> Short
    (900, 2.0, 9.0, 0.0, 4, 1),  # 15:00 -> Medium
    (1799, 4.0, 15.0, 3.0, 1, 1),  # 29:59 -> Medium
    (1800, 4.0, 15.0, 3.0, 5, 1),  # 30:00 -> Long, unknown payment code
    (3599, 9.0, 30.0, 6.0, 1, 1),  # 59:59 -> Long
    (3600, 9.0, 30.0, 0.0, 6, 1),  # 60:00 -> Very Long
    (5400, 20.0, 60.0, 10.0, 1, 1),  # 90:00 -> Very Long
]


def cached(root: str, name: str, build) -> str:
    """Return ``root/name``, building it with ``build(dir)`` first when
    absent. Builds go to a temporary directory renamed into place, so an
    interrupted build is never mistaken for a finished one."""
    path = os.path.join(root, name)
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


# --------------------------------------------------------------------- taxi


def _taxi_frame(rng: np.random.Generator, rows: int, with_v2: bool) -> pd.DataFrame:
    month = np.datetime64("2025-01-01T00:00:00")
    pickup = month + rng.integers(0, 31 * 86400 - 7200, rows).astype("timedelta64[s]")
    dur = np.maximum(rng.exponential(14 * 60, rows).astype(np.int64), 30)
    dist = np.round(rng.gamma(2.0, 1.6, rows) + 0.05, 2)
    fare = np.round(3.0 + 2.5 * dist + 0.35 * dur / 60 + rng.normal(0, 1, rows).clip(-2, 2), 2)
    pay = rng.choice([1, 2, 3, 4, 5, 6], rows, p=[0.62, 0.28, 0.04, 0.03, 0.02, 0.01])
    tip = np.where(pay == 1, np.round(fare * rng.uniform(0, 0.3, rows), 2), 0.0)
    sign = np.ones(rows)
    # the planted branch rows lead each batch (so the 100-row sample the
    # schema layer infers from always sees them) ...
    n_b = min(len(_BRANCH_ROWS), rows)
    for i, (d, di, fa, ti, pa_, sg) in enumerate(_BRANCH_ROWS[:n_b]):
        dur[i], dist[i], fare[i], tip[i], pay[i], sign[i] = d, di, fa, ti, pa_, sg
    # ... and recur at a low rate throughout
    k = rng.integers(0, len(_BRANCH_ROWS), rows)
    hit = rng.random(rows) < 0.02
    hit[:n_b] = False
    for col, j in ((dur, 0), (dist, 1), (fare, 2), (tip, 3), (pay, 4), (sign, 5)):
        col[hit] = np.array([b[j] for b in _BRANCH_ROWS])[k[hit]]
    cbd = np.where(rng.random(rows) < 0.6, 0.75, 0.0)
    total = np.round(sign * (fare + tip + 1.0 + (cbd if with_v2 else 0.0)), 2)
    frame = {
        "tpep_pickup_datetime": pickup,
        "tpep_dropoff_datetime": pickup + dur.astype("timedelta64[s]"),
        "passenger_count": rng.integers(0, 7, rows),
        "trip_distance": dist,
        "payment_type": pay.astype(np.int64),
        "fare_amount": fare,
        "tip_amount": tip,
        "total_amount": total,
        "PULocationID": rng.integers(1, 266, rows),
        "DOLocationID": rng.integers(1, 266, rows),
    }
    if with_v2:
        # nullable fee (COALESCE branch); the leading rows stay non-null so
        # the sampled inference types the column DOUBLE, not STRING
        null = rng.random(rows) < 0.15
        null[:n_b] = False
        null[1] = True  # ... except one planted NULL inside the sample
        frame["cbd_congestion_fee"] = np.where(null, np.nan, cbd)
        frame["Airport Fee"] = np.where(rng.random(rows) < 0.1, 1.75, 0.0)
    return pd.DataFrame(frame)


def taxi_month(root: str, seed: int, rows: int, files_per_batch: int) -> dict:
    """One reduced taxi month as CSV files: ``v1/`` (A1 without the fee
    column) then ``v2/`` (adds the fee and ``Airport Fee``)."""

    def build(out: str) -> None:
        rng = np.random.default_rng([seed, 1])
        half = rows // 2
        for batch, n, v2 in (("v1", half, False), ("v2", rows - half, True)):
            os.makedirs(os.path.join(out, batch))
            frame = _taxi_frame(rng, n, v2)
            for f, part in enumerate(np.array_split(np.arange(n), files_per_batch)):
                frame.iloc[part].to_csv(
                    os.path.join(out, batch, f"trips-{f:03d}.csv"),
                    index=False,
                    float_format="%.2f",
                )

    path = cached(root, f"taxi-s{seed}-r{rows}-f{files_per_batch}", build)
    return {
        "dir": path,
        "rows": rows,
        "input_bytes": sum(
            os.path.getsize(os.path.join(path, b, f))
            for b in ("v1", "v2")
            for f in os.listdir(os.path.join(path, b))
        ),
    }


# --------------------------------------------------------------------- star

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_ADJ = ["blue", "old", "small", "new", "red", "hot", "large", "cold"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]


def _keys(rng: np.random.Generator, n: int) -> np.ndarray:
    """Fresh surrogate keys: a seeded permutation of a seeded key range."""
    return rng.integers(0, 1_000_000) + rng.permutation(n).astype(np.int64)


def _days(rng, start: str, span_days: int, n: int) -> np.ndarray:
    return (np.datetime64(start) + rng.integers(0, span_days + 1, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _write(out: str, name: str, cols: dict, order: np.ndarray | None = None) -> None:
    table = pa.table(cols)
    if order is not None:
        table = table.take(pa.array(order))
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def star(root: str, seed: int, sf: float) -> dict:
    """Star schema + events with the fixture schemas (FIXTURES.md B) at
    scale ``sf``: ~6M*sf lineitem rows, 1M*sf events."""

    def build(out: str) -> None:
        rng = np.random.default_rng([seed, 2])
        n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
        n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
        i32 = pa.int32()
        _write(out, "region", {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS})
        _write(
            out,
            "nation",
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            },
        )
        money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
        ck, sk, pk, ok = (_keys(rng, n) for n in (n_cust, n_supp, n_part, n_ord))
        _write(
            out,
            "customer",
            {
                "c_custkey": ck,
                "c_name": [f"Customer#{k:09d}" for k in ck],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
            },
            rng.permutation(n_cust),
        )
        _write(
            out,
            "supplier",
            {
                "s_suppkey": sk,
                "s_name": [f"Supplier#{k:09d}" for k in sk],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            },
            rng.permutation(n_supp),
        )
        _write(
            out,
            "part",
            {
                "p_partkey": pk,
                "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(_PTYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
            },
            rng.permutation(n_part),
        )
        _write(
            out,
            "orders",
            {
                "o_orderkey": ok,
                "o_custkey": rng.choice(ck, n_ord),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": money(1000.0, 500000.0, n_ord),
                "o_orderdate": _days(rng, "1995-01-01", 2403, n_ord),
                "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
            },
            rng.permutation(n_ord),
        )
        qty = rng.integers(1, 51, n_line).astype(np.float64)
        _write(
            out,
            "lineitem",
            {
                "l_orderkey": rng.choice(ok, n_line),
                "l_partkey": rng.choice(pk, n_line),
                "l_suppkey": rng.choice(sk, n_line),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_line), 2).clip(900.0, 105000.0),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                "l_linestatus": rng.choice(["F", "O"], n_line),
                "l_shipdate": _days(rng, "1995-01-02", 2498, n_line),
            },
        )
        # events keep event-time order (the stream replays read them as a
        # file stream ordered by ts); ts is stored as TIMESTAMP(NANOS) like
        # the fixtures, so the engine's nanos read path runs too
        ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)) * 1000
        _write(
            out,
            "events",
            {
                "event_id": np.arange(n_ev, dtype=np.int64) + rng.integers(0, 1_000_000),
                "ts": pa.array(np.datetime64("2024-01-01", "ns") + ts.astype("timedelta64[ns]"), pa.timestamp("ns")),
                "user_id": rng.integers(0, max(int(15_000 * sf), 10), n_ev),
                "event_type": rng.choice(_EVENT_TYPES, n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            },
        )

    return {"dir": cached(root, f"star-s{seed}-sf{sf:g}", build)}


# ------------------------------------------------------------------- corpus

_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = {"".join(rng.choice(letters, rng.integers(3, 10))) for _ in range(n * 2)}
    words -= set(_STOPWORDS)
    return np.array(sorted(words)[:n])


def _pii(rng: np.random.Generator) -> str:
    kind = rng.integers(0, 3)
    if kind == 0:
        return f"user{rng.integers(0, 10**6)}@mail{rng.integers(0, 99)}.example.com"
    if kind == 1:
        return f"{rng.integers(200, 999)}-{rng.integers(200, 999)}-{rng.integers(1000, 9999)}"
    return ".".join(str(x) for x in rng.integers(1, 255, 4))


# The duplicate traffic of the corpus. These values are chosen, not taken
# from a measurement of any real crawl: the dedup stages' cost depends on
# them, so a change here changes the workload.
# Share of the documents that are copies of another document.
DUP_SHARE = 0.3
# Share of those copies that are edited (near) copies; the rest are exact.
NEAR_SHARE = 0.5
# Tokens an edited copy replaces (at least two): few enough that its
# 3-shingle Jaccard to the original stays well above the LSH threshold.
EDIT_RATE = 0.03
# Which originals get copied: weight rank**-POPULARITY, so a few originals
# have a few dozen copies and most have none or one.
POPULARITY = 0.5


def corpus(root: str, seed: int, n_docs: int, n_vecs: int, n_queries: int = 40, dim: int = 32) -> dict:
    """Documents of which ``DUP_SHARE`` are exact or edited copies of
    others; an eval set of which half quotes training documents; clustered
    embeddings + queries."""

    def build(out: str) -> None:
        rng = np.random.default_rng([seed, 3])
        vocab = _vocab(rng, 4000)
        zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
        zipf /= zipf.sum()
        n_orig = n_docs - int(n_docs * DUP_SHARE)
        originals = []
        for _ in range(n_orig):
            toks = list(rng.choice(vocab, rng.integers(60, 160), p=zipf))
            for pos in rng.choice(len(toks), len(toks) // 6, replace=False):
                toks[pos] = _STOPWORDS[rng.integers(0, len(_STOPWORDS))]
            if rng.random() < 0.1:
                toks.insert(int(rng.integers(0, len(toks))), _pii(rng))
            originals.append(toks)
        texts = [" ".join(t) for t in originals]
        group = list(range(n_orig))
        kind = ["orig"] * n_orig
        weight = np.arange(1, n_orig + 1) ** -POPULARITY
        parents = rng.choice(n_orig, n_docs - n_orig, p=weight / weight.sum())
        n_near = round(len(parents) * NEAR_SHARE)
        for c, p in enumerate(parents):
            toks = list(originals[p])
            if c >= n_near:
                kind.append("exact")
            else:
                for pos in rng.choice(len(toks), max(2, int(len(toks) * EDIT_RATE)), replace=False):
                    toks[pos] = vocab[rng.integers(0, len(vocab))]
                kind.append("near")
            texts.append(" ".join(toks))
            group.append(int(p))
        ids = rng.permutation(n_docs).astype(np.int64) + rng.integers(0, 1_000_000)
        order = rng.permutation(n_docs)
        pq.write_table(
            pa.table({"doc_id": ids, "text": texts}).take(pa.array(order)),
            os.path.join(out, "docs.parquet"),
        )
        # truth: exact-dedup keeps the min id per distinct text; every copy
        # of an original is then a planted near-dup of that representative
        rep_of_text: dict[str, int] = {}
        for i, txt in enumerate(texts):
            rep_of_text[txt] = min(rep_of_text.get(txt, ids[i]), int(ids[i]))
        groups: dict[int, set] = {}
        for i, g in enumerate(group):
            groups.setdefault(g, set()).add(rep_of_text[texts[i]])
        planted_pairs = sorted(
            (min(a, b), max(a, b))
            for members in groups.values()
            for a in members
            for b in members
            if a < b
        )
        # eval set: half quotes a 12-token span of a training original
        ev = []
        for e in range(200):
            if e % 2 == 0:
                src = originals[rng.integers(0, n_orig)]
                start = int(rng.integers(0, max(1, len(src) - 12)))
                body = list(rng.choice(vocab, 20)) + src[start : start + 12] + list(rng.choice(vocab, 20))
            else:
                body = list(rng.choice(vocab, 50))
            ev.append(" ".join(body))
        pq.write_table(
            pa.table({"doc_id": np.arange(len(ev), dtype=np.int64), "text": ev}),
            os.path.join(out, "eval.parquet"),
        )
        # clustered embeddings; query ids sit above every corpus id
        centers = rng.normal(0, 1, (24, dim))
        vec = centers[rng.integers(0, 24, n_vecs)] + rng.normal(0, 0.45, (n_vecs, dim))
        qv = centers[rng.integers(0, 24, n_queries)] + rng.normal(0, 0.45, (n_queries, dim))
        vec, qv = vec.astype(np.float32), qv.astype(np.float32)
        vec_ids = rng.permutation(n_vecs).astype(np.int64)
        q_ids = np.arange(n_queries, dtype=np.int64) + n_vecs
        emb_type = pa.list_(pa.float32())
        pq.write_table(
            pa.table({"vec_id": vec_ids, "embedding": pa.array(list(vec), emb_type)}),
            os.path.join(out, "embeddings.parquet"),
        )
        pq.write_table(
            pa.table({"vec_id": q_ids, "embedding": pa.array(list(qv), emb_type)}),
            os.path.join(out, "queries.parquet"),
        )
        v64, q64 = vec.astype(np.float64), qv.astype(np.float64)
        sims = (q64 / np.linalg.norm(q64, axis=1, keepdims=True)) @ (
            v64 / np.linalg.norm(v64, axis=1, keepdims=True)
        ).T
        top10 = {
            int(q_ids[i]): [int(vec_ids[j]) for j in np.lexsort((vec_ids, -sims[i]))[:10]]
            for i in range(n_queries)
        }
        with open(os.path.join(out, "truth.json"), "w") as fh:
            json.dump(
                {
                    "n_docs": n_docs,
                    "n_groups": n_orig,
                    "groups": [sorted(int(x) for x in m) for m in groups.values() if len(m) > 1],
                    "planted_pairs": [[int(a), int(b)] for a, b in planted_pairs],
                    "kinds": {k: kind.count(k) for k in ("orig", "exact", "near")},
                    "ann_top10": top10,
                },
                fh,
            )

    path = cached(root, f"corpus-s{seed}-d{n_docs}-v{n_vecs}", build)
    with open(os.path.join(path, "truth.json")) as fh:
        truth = json.load(fh)
    return {"dir": path, "truth": truth, "input_bytes": os.path.getsize(os.path.join(path, "docs.parquet"))}


# Input sizes at scale 1. They keep one run of each workload within about
# 45 s on a 4-core host (one ETL iteration, one query pass, one corpus
# iteration, each in a fresh session), so that 70 runs fit in 57 minutes.
TAXI_ROWS = 600_000
TAXI_FILES_PER_BATCH = 4
STAR_SF = 0.01
CORPUS_DOCS = 3_000
CORPUS_VECS = 2_000



def make(workload: str, root: str, seed: int, scale: float) -> dict:
    """The inputs of ``workload`` (generated now, or found in the cache)."""
    if workload == "etl_taxi_month":
        return taxi_month(root, seed, max(int(TAXI_ROWS * scale), 1000), TAXI_FILES_PER_BATCH)
    if workload == "analytics_mix":
        return star(root, seed, max(round(STAR_SF * scale, 4), 0.001))
    if workload == "llm_corpus_prep":
        return corpus(root, seed, max(int(CORPUS_DOCS * scale), 200), max(int(CORPUS_VECS * scale), 200))
    raise ValueError(f"unknown workload {workload!r}")


if __name__ == "__main__":
    import sys

    # python3 gen.py <workload> <root> <seed> <scale>: the inputs of one run,
    # with their expected outputs, in their own process
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import checks

    name, where, seed_arg, scale_arg = sys.argv[1:5]
    checks.write_oracles(name, make(name, where, int(seed_arg), float(scale_arg)))
