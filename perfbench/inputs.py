"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its seed: the same seed gives
byte-identical inputs, so every run of one seed measures the same work.

* ``open_vocab`` / ``open_pages``: open-vocabulary pages for the
  checkpointed workload — thousands of multi-word and hyphenated
  gazetteer terms used with a Zipf distribution, and a NEL lookup that
  covers about 60% of them, so the linker mints ids for a large miss set.
* ``write_tables``: the ten driver tables the contract queries read
  (``documents`` word soup, a small TPC-H star, ``events`` and
  ``embeddings``), written as one parquet file each.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
import random

import pandas as pd

_CONSONANTS = "bcdfghklmnprstvz"
_VOWELS = "aeiou"
_CLASSES = ("gene", "chemical", "disease", "species", "cell")
_HEADS = ("kinase", "receptor", "protein", "syndrome", "virus", "cells", "factor")

_FILLER = (
    "the results of this study show that patients with elevated levels "
    "were observed during treatment while samples from the cohort suggest "
    "a modest effect on outcome in humans and animals after infection"
).split()

# three entity slots each, separated by fixed words; the gaps contain the
# pattern-rule phrases of stages/triples.py so typed predicates are emitted
# alongside co_occurs_with
_TEMPLATES = (
    "{A} can cause {B} in patients with {C}.",
    "Treatment with {A} reduced {B} in a cohort exposed to {C}.",
    "The {A} binds to {B} and mediates entry of {C} into cells.",
    "Levels of {A} and {B} were measured, e.g. alongside {C}.",
    "{A} was detected together with {B} in samples of {C}.",
    "Dr. Lind reported that {A} interacts with {B} near {C}.",
    "Can {A} suppress {B}? Data on {C} remain sparse!",
)
_SENTS_PER_DOC = 5
# share of the gazetteer the NEL lookup covers; the rest is the miss set
_LOOKUP_SHARE = 0.6


def _word(rng: random.Random, syllables: int) -> str:
    return "".join(
        rng.choice(_CONSONANTS) + rng.choice(_VOWELS) for _ in range(syllables)
    )


def open_vocab(
    seed: int, n_terms: int
) -> tuple[list[tuple[str, str]], list[tuple[str, str, str]]]:
    """(gazetteer, nel_lookup): ``n_terms`` distinct terms in Zipf rank
    order (rank 0 most used) and a lookup over ``_LOOKUP_SHARE`` of them.

    No term shares a token with the template words, and no term's tokens
    contain another term, so every entity slot of a sentence yields
    exactly one mention and the work per document varies little between
    seeds."""
    from easyner_spark.textops import normalize_term

    rng = random.Random(seed * 7919 + 1)
    reserved = set(normalize_term(" ".join(_TEMPLATES + tuple(_FILLER))).split())
    seen: set[str] = set()  # normalized terms and every token run inside one
    gaz: list[tuple[str, str]] = []
    while len(gaz) < n_terms:
        shape = rng.random()
        if shape < 0.35:
            term = _word(rng, rng.randint(2, 4))
        elif shape < 0.6:
            term = f"{_word(rng, 2)}-{_word(rng, rng.randint(1, 2))}"
        elif shape < 0.85:
            term = f"{_word(rng, rng.randint(2, 3))} {rng.choice(_HEADS)}"
        else:
            term = f"{_word(rng, 2).upper()}-{rng.randint(1, 99)}"
        toks = normalize_term(term).split()
        runs = {" ".join(toks[i:j]) for i in range(len(toks)) for j in range(i + 1, len(toks) + 1)}
        if reserved.intersection(toks) or seen.intersection(runs):
            continue
        seen |= runs
        gaz.append((term, rng.choice(_CLASSES)))
    covered = sorted(rng.sample(range(n_terms), int(n_terms * _LOOKUP_SHARE)))
    lookup = [(gaz[i][0], f"OV:{i:06d}", gaz[i][0].title()) for i in covered]
    return gaz, lookup


def open_pages(seed: int, n_docs: int, gazetteer: list[tuple[str, str]]) -> pd.DataFrame:
    """Pages with the engine's input schema (url, warc_ts, html, text,
    lang): ~30% html-only rows, ~3% non-English rows."""
    rng = random.Random(seed)
    cum = list(itertools.accumulate(1.0 / (r + 1) ** 1.1 for r in range(len(gazetteer))))
    terms = [t for t, _ in gazetteer]

    def pick() -> str:
        return rng.choices(terms, cum_weights=cum)[0]

    def sentence() -> str:
        if rng.random() < 0.25:
            words = [rng.choice(_FILLER) for _ in range(rng.randint(6, 12))]
            return " ".join(words).capitalize() + "."
        return rng.choice(_TEMPLATES).format(A=pick(), B=pick(), C=pick())

    base = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    rows = []
    for i in range(n_docs):
        title = f"Study {i}: " + sentence().rstrip(".!?")
        sents = [sentence() for _ in range(_SENTS_PER_DOC)]
        body = " ".join(sents)
        paras = "".join(f"<p>{s}</p>" for s in sents)
        html = (
            f"<html><head><title>{title}</title></head>"
            f"<body><h1>{title}</h1>{paras}<script>var x=1;</script></body></html>"
        ).encode("utf-8")
        rows.append(
            {
                "url": f"https://open.test/doc/{i:06d}",
                "warc_ts": base + dt.timedelta(seconds=i * 41),
                "html": html,
                "text": None if rng.random() < 0.3 else body,
                "lang": "en" if rng.random() >= 0.03 else "de",
            }
        )
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# driver tables for the contract queries
# ---------------------------------------------------------------------------

# word-soup vocabulary of the driver's documents table: the query
# gazetteer terms (queries.GAZ) plus plain words, so tokens() → mentions()
# → linked() match a realistic share of tokens
_DOC_WORDS = (
    "spark join hash sort merge filter scan window stream batch table row "
    "column vector dup part line order small fast value slow group agg "
    "query big key data customer a the"
).split()


def write_tables(seed: int, out_dir: str, n_docs: int, n_events: int) -> None:
    """Write the ten tables compare.TABLES names under ``out_dir``."""
    import numpy as np

    rs = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def save(name: str, df: pd.DataFrame) -> None:
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)

    # documents: word soup; ~6% exact duplicates and ~6% one-word edits of
    # earlier docs so the shingle dedup family finds real pairs
    texts: list[str] = []
    for i in range(n_docs):
        r = rs.random()
        if i > 10 and r < 0.06:
            texts.append(texts[int(rs.integers(0, i))])
        elif i > 10 and r < 0.12:
            words = texts[int(rs.integers(0, i))].split(" ")
            words[int(rs.integers(0, len(words)))] = str(rs.choice(_DOC_WORDS))
            texts.append(" ".join(words))
        else:
            n = int(rs.integers(8, 90))
            texts.append(" ".join(rs.choice(_DOC_WORDS, size=n)))
    langs = rs.choice(["en", "en", "en", "en", "de", "zh"], size=n_docs)
    save(
        "documents",
        pd.DataFrame(
            {
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": texts,
                "lang": langs,
                "source": [f"src{i % 7}" for i in range(n_docs)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
    )

    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ets = np.sort(rs.integers(0, 3 * 86_400_000_000, size=n_events))
    save(
        "events",
        pd.DataFrame(
            {
                "event_id": np.arange(n_events, dtype=np.int64),
                "ts": t0 + ets.astype("timedelta64[us]"),
                "user_id": rs.integers(0, max(n_events // 40, 1), size=n_events),
                "event_type": rs.choice(
                    ["view", "click", "purchase", "signup", "error"], size=n_events
                ),
                "value": np.round(rs.random(n_events) * 200, 2),
                "props": [f'{{"k": {k}}}' for k in rs.integers(0, 100, size=n_events)],
            }
        ),
    )

    # a small TPC-H star: only the control query reads lineitem; the other
    # tables exist because the DuckDB oracle binds every view
    save("region", pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                                 "r_name": [f"R{i}" for i in range(5)]}))
    save("nation", pd.DataFrame({"n_nationkey": np.arange(25, dtype=np.int32),
                                 "n_name": [f"N{i:02d}" for i in range(25)],
                                 "n_regionkey": (np.arange(25) % 5).astype(np.int32)}))
    n_cust, n_orders, n_li = 1500, 15000, 60000
    save("customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"C{i}" for i in range(n_cust)],
        "c_nationkey": rs.integers(0, 25, size=n_cust).astype(np.int32),
        "c_acctbal": np.round(rs.random(n_cust) * 9000, 2),
        "c_mktsegment": rs.choice(["AUTO", "BUILD", "FURN", "MACH", "HOUSE"], size=n_cust),
    }))
    save("supplier", pd.DataFrame({
        "s_suppkey": np.arange(100, dtype=np.int64),
        "s_name": [f"S{i}" for i in range(100)],
        "s_nationkey": rs.integers(0, 25, size=100).astype(np.int32),
        "s_acctbal": np.round(rs.random(100) * 9000, 2),
    }))
    save("part", pd.DataFrame({
        "p_partkey": np.arange(2000, dtype=np.int64),
        "p_name": [f"P{i}" for i in range(2000)],
        "p_brand": rs.choice(["B1", "B2", "B3"], size=2000),
        "p_type": rs.choice(["T1", "T2", "T3", "T4"], size=2000),
        "p_size": rs.integers(1, 50, size=2000).astype(np.int32),
        "p_retailprice": np.round(900 + rs.random(2000) * 1000, 2),
    }))
    day = np.timedelta64(86_400_000_000, "us")
    save("orders", pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rs.integers(0, n_cust, size=n_orders),
        "o_orderstatus": rs.choice(["O", "F", "P"], size=n_orders),
        "o_totalprice": np.round(rs.random(n_orders) * 5e5, 2),
        "o_orderdate": np.datetime64("1998-01-01T00:00:00", "us")
        + rs.integers(0, 3000, size=n_orders) * day,
        "o_orderpriority": rs.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"], size=n_orders),
    }))
    save("lineitem", pd.DataFrame({
        "l_orderkey": rs.integers(0, n_orders, size=n_li),
        "l_partkey": rs.integers(0, 2000, size=n_li),
        "l_suppkey": rs.integers(0, 100, size=n_li),
        "l_linenumber": rs.integers(1, 8, size=n_li).astype(np.int32),
        "l_quantity": rs.integers(1, 51, size=n_li).astype(np.float64),
        "l_extendedprice": np.round(900 + rs.random(n_li) * 9e4, 2),
        "l_discount": rs.integers(0, 11, size=n_li) / 100.0,
        "l_tax": rs.integers(0, 9, size=n_li) / 100.0,
        "l_returnflag": rs.choice(["A", "N", "R"], size=n_li),
        "l_linestatus": rs.choice(["O", "F"], size=n_li),
        "l_shipdate": np.datetime64("1998-01-01T00:00:00", "us")
        + rs.integers(0, 3000, size=n_li) * day,
    }))
    n_emb = 200
    save("embeddings", pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": [v.astype(np.float32) for v in rs.standard_normal((n_emb, 16))],
        "label": rs.integers(0, 4, size=n_emb).astype(np.int32),
    }))
