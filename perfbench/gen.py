"""Seeded input generator for the benchmark.

Everything a run feeds the program is written here, before timing starts:

* ``write_fixture`` writes the engine's ten fixture tables (TPC-H-like star
  schema, ``events``, ``documents``, ``embeddings``) at a scale factor.
  The shapes follow the engine's FIXTURES.md section B; the fixture seed is
  fixed, so the DuckDB oracle results can be cached per checkout.
* ``write_trend_inputs`` writes the seed-shuffled order of the query slice.
* ``write_curation_inputs`` draws a base corpus and a sequence of
  micro-batch files (fresh docs, exact copies, near-duplicates by word
  reversal and by a token drop, and periodic takedowns) from the
  fixture's ``documents`` and ``embeddings`` tables.
* ``write_rag_inputs`` adds the seeded request mix on top of that.

The same seed always gives byte-identical inputs.
"""
import json
import os

import numpy as np
import pandas as pd

FIXTURE_SEED = 42
FIXTURE_VERSION = 1

# The engine fixture's document vocabulary: 30 uniform words plus a rare
# near-duplicate marker.
FIXTURE_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch").split()
ADJECTIVES = "blue cold hot large new old red small".split()
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
EMBED_DIM = 64

# The trend_analytics slice: one query from each of the seven packs, each
# the pack's query for an operation of the paper's analytic surface (daily
# bars, a five-way star-schema join, drawdown, an as-of join, technical
# indicators, a distinct-count sketch, and the random-forest fit). It is
# not chosen to match the pool's cost mix: in one graft.Bench pass over
# the 78-query pool at sf0.01 on 4 cores the slice took 5.2 s of 49.0 s,
# and the Ml pack holds 27% of the slice's time against 54% of the pool's.
# The full pool cannot fit one run: a cold pass at sf0.1 costs about two
# minutes on 4 cores, and a seed-drawn part of it made throughput swing by
# a quarter between seeds. A run times whole passes of the slice, so every
# run times the same queries.
TREND_SLICE = (
    "q01_daily_movement", "q05_local_supplier_volume", "q105_max_drawdown",
    "q102_asof_nearest", "q124_tech_indicators", "q217_kmv_distinct",
    "q71_global_rf")

# Curation traffic is drawn from the fixture's own `documents` and
# `embeddings` tables, the way the engine's q304/q306 build theirs: the
# base corpus is q304's doc_id % 5 sample, a doc's vector is the
# embedding row at vec_id = doc_id % 1e6 (a copy or mutation keeps its
# source's vector), copies and mutations get the source id plus a
# multiple of 1e6, and near-duplicates are q304's word reversal plus a
# one-token drop (the mirror of the fixture's own near-duplicate, which
# appends one token). Fresh docs are the fixture docs outside the sample,
# in a seed-shuffled order.
#
# Not taken from a measurement: a batch is twelve docs, half fresh and
# the other half split equally between exact copies, reversals and drops
# (q304's two batches hold as many copies as reversals). Small batches
# keep an op bound by per-execution overhead, the cost this workload is
# meant to expose. Every second batch is a takedown of eight live base
# docs, so that the one-ingest-one-takedown round a ten-second run times
# holds the same mix in every run.
BASE_MOD = 5
VEC_MOD = 1_000_000
BATCH_MIX = (("fresh", 6), ("copy", 2), ("reverse", 2), ("drop", 2))
TAKEDOWN_EVERY = 2
TAKEDOWN_DOCS = 8
N_BATCHES = 24

RAG_HISTORY_BATCHES = 3
N_REQUESTS = 400
REQUEST_QUERIES = 6
REQUEST_KINDS = ("bm25", "ann", "old_version")


def _write(df, path):
    df.to_parquet(path, index=False, engine="pyarrow", compression="snappy")


def _ts(days_from, days_to, n, rng):
    base = np.datetime64("1995-01-01", "D")
    d = rng.integers(days_from, days_to + 1, n).astype("timedelta64[D]")
    return (base + d).astype("datetime64[us]")


def write_fixture(out, sf):
    """The ten tables at scale factor ``sf`` under directory ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(FIXTURE_SEED)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = 4 * n_ord
    n_ev = int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    _write(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }), f"{out}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }), f"{out}/customer.parquet")
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), f"{out}/supplier.parquet")
    names = np.array([f"{a} {n}" for a in ADJECTIVES for n in NOUNS])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(pd.DataFrame({
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    }), f"{out}/part.parquet")
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(0, 2403, n_ord, rng),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)],
    }), f"{out}/orders.parquet")
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(1, 2499, n_line, rng),
    }), f"{out}/lineitem.parquet")
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    _write(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us")
               + ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out}/events.parquet")
    words = np.array(FIXTURE_WORDS)
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.02:
            # a near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     rng.integers(10, 101))]))
    langs = np.array(["en", "en", "de", "es", "fr", "zh"])
    _write(pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out}/documents.parquet")
    labels = rng.integers(0, 10, n_emb)
    _write(pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(_clustered_vectors(rng, labels)),
        "label": labels.astype(np.int32),
    }), f"{out}/embeddings.parquet")


def _clustered_vectors(rng, labels):
    """Unit vectors scattered around one center per label."""
    centers = np.random.default_rng(FIXTURE_SEED + 1).normal(
        size=(int(labels.max()) + 1, EMBED_DIM))
    v = centers[labels] + rng.normal(scale=0.9, size=(len(labels), EMBED_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def write_trend_inputs(out, seed):
    """The seed-shuffled order of the query slice, one name a line."""
    os.makedirs(out, exist_ok=True)
    order = [str(q) for q in np.random.default_rng(seed).permutation(TREND_SLICE)]
    with open(f"{out}/order.txt", "w") as f:
        f.write("\n".join(order) + "\n")
    return order


def _fixture_corpus(fixture):
    """(doc_id, text) of the fixture documents and {vec_id: vector}."""
    docs = pd.read_parquet(f"{fixture}/documents.parquet",
                           columns=["doc_id", "text"])
    emb = pd.read_parquet(f"{fixture}/embeddings.parquet",
                          columns=["vec_id", "embedding"])
    vecs = {int(v): np.asarray(e, dtype=np.float32)
            for v, e in zip(emb["vec_id"], emb["embedding"])}
    return list(zip(docs["doc_id"].astype(int), docs["text"])), vecs


def _frame(rows):
    return pd.DataFrame({
        "doc_id": np.array([r[0] for r in rows], dtype=np.int64),
        "text": [r[1] for r in rows],
        "embedding": [None if r[2] is None else list(r[2]) for r in rows],
        "op": [r[3] for r in rows],
    })


def write_curation_inputs(out, seed, fixture, n_batches=N_BATCHES,
                          takedown_every=TAKEDOWN_EVERY):
    """Base corpus plus ``n_batches`` micro-batch files.

    ``base.parquet`` and every ``batches/batch-NNNNN.parquet`` share one
    schema: (doc_id, text, embedding or null, op). A batch's ``op`` is
    ``ingest`` or ``retract``; every ``takedown_every``-th batch retracts
    base docs that are still live, with their text and vector, as the
    takedown API takes them. Returns the generator and every doc id seen.
    """
    rng = np.random.default_rng(seed)
    docs, vecs = _fixture_corpus(fixture)
    vec = lambda d: vecs.get(d % VEC_MOD)  # noqa: E731
    base = [(d, t, vec(d), "base") for d, t in docs if d % BASE_MOD == 0]
    fresh = [docs[i] for i in rng.permutation(len(docs))
             if docs[i][0] % BASE_MOD != 0]
    os.makedirs(f"{out}/batches", exist_ok=True)
    _write(_frame(base), f"{out}/base.parquet")
    by_id = {r[0]: r for r in base}
    live_base = sorted(by_id)
    seen = list(base)
    serial = 0
    kinds, retract_ids = [], {}
    for b in range(n_batches):
        if (b + 1) % takedown_every == 0:
            pick = rng.choice(len(live_base), TAKEDOWN_DOCS, replace=False)
            ids = sorted(live_base[i] for i in pick)
            live_base = [d for d in live_base if d not in set(ids)]
            rows = [(d, by_id[d][1], by_id[d][2], "retract") for d in ids]
            kinds.append("retract")
            retract_ids[str(b)] = ids
        else:
            rows = []
            for kind, n in BATCH_MIX:
                for _ in range(n):
                    if kind == "fresh":
                        d, t = fresh.pop()
                        row = (d, t, vec(d), "ingest")
                    else:
                        src = seen[int(rng.integers(0, len(seen)))]
                        toks = src[1].split()
                        if kind == "reverse":
                            toks = toks[::-1]
                        elif kind == "drop":
                            del toks[int(rng.integers(0, len(toks)))]
                        serial += 1
                        row = (src[0] % VEC_MOD + serial * VEC_MOD,
                               " ".join(toks), src[2], "ingest")
                    rows.append(row)
            seen += rows
            kinds.append("ingest")
        path = f"{out}/batches/batch-{b:05d}.parquet"
        _write(_frame(rows), path)
        # the file source takes the oldest file first
        os.utime(path, (1_600_000_000 + b, 1_600_000_000 + b))
    with open(f"{out}/batches.json", "w") as f:
        json.dump({"kinds": kinds, "retract_ids": retract_ids,
                   "takedown_every": takedown_every}, f)
    return rng, seen, vecs


def write_rag_inputs(out, seed, fixture):
    """Curation inputs for the index history plus the request mix.

    The ``RAG_HISTORY_BATCHES`` batch files (ending in a takedown) are
    applied during set-up. ``requests.json`` lists the requests in order:
    ``bm25`` holds per-query term lists, each term a token drawn from the
    text of a random ingested doc, so terms follow the corpus's own term
    frequencies; ``ann`` holds per-query vectors from the embedding store,
    as q306's external queries are; ``old_version`` holds doc ids whose
    keep-set membership is looked up at an older retained manifest
    version.
    """
    rng, seen, vecs = write_curation_inputs(
        out, seed, fixture, n_batches=RAG_HISTORY_BATCHES,
        takedown_every=RAG_HISTORY_BATCHES)
    vec_ids = sorted(vecs)

    def terms(n):
        picked = []
        while len(picked) < n:
            toks = seen[int(rng.integers(0, len(seen)))][1].split()
            t = toks[int(rng.integers(0, len(toks)))]
            if t not in picked:
                picked.append(t)
        return picked

    reqs = []
    for r in range(N_REQUESTS):
        kind = REQUEST_KINDS[r % len(REQUEST_KINDS)]
        if kind == "ann":
            reqs.append({"kind": kind, "queries": [
                {"query_id": q, "vector": [float(x) for x in vecs[
                    vec_ids[int(rng.integers(0, len(vec_ids)))]]]}
                for q in range(REQUEST_QUERIES)]})
        elif kind == "bm25":
            reqs.append({"kind": kind, "queries": [
                {"query_id": q, "terms": terms(int(rng.integers(1, 4)))}
                for q in range(REQUEST_QUERIES)]})
        else:
            pick = rng.choice(len(seen), 4 * REQUEST_QUERIES, replace=False)
            reqs.append({"kind": kind,
                         "doc_ids": sorted(int(seen[i][0]) for i in pick)})
    with open(f"{out}/requests.json", "w") as f:
        json.dump(reqs, f)
