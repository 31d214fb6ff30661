"""Seeded inputs for the benchmark workloads, and their fingerprints.

Every generator is a pure function of its seed: the same seed gives
byte-identical tables.  The program under test only ever receives the
materialized tables, never the seed.

- ``write_kg_corpus``: the product's document table, generated by
  ``ollie_spark.spark.corpus.corpus`` and materialized to parquet.
- ``link_mentions``: a mentions table whose entity spellings fall into
  planted near-duplicate clusters (article, case, punctuation, suffix
  and typo variants of one name), with one planted head entity on
  ~20% of ``arg1``.  It carries the cluster of every spelling, which is
  the linking oracle.
- ``write_curation_tables``: the star-schema, event, document and
  embedding tables the headline queries read, one parquet file per
  table as the queries expect, with planted near-duplicate documents
  and embeddings so the dedup queries find pairs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def fingerprint(df: DataFrame) -> tuple[int, int]:
    """(row count, sum of xxhash64 over every column) in one job."""
    r = df.agg(F.count("*").alias("n"),
               F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
               .alias("h")).first()
    return int(r["n"]), int(r["h"] or 0)


# ------------------------------------------------------------ kg_build

def write_kg_corpus(spark: SparkSession, path: str, n_docs: int,
                    seed: int):
    from ollie_spark.spark.corpus import corpus

    parts = spark.sparkContext.defaultParallelism * 2
    corpus(spark, n_docs, seed=seed, partitions=parts) \
        .write.mode("overwrite").parquet(path)


# ----------------------------------------------------------- link_wide

_ONSETS = list("bdfgklmnprstvz")
_VOWELS = list("aeiou")
_SUFFIXES = ("Group", "Holdings", "Inc", "Labs", "Partners", "Works")
_ARTICLES = ("The", "the", "A")
HEAD_SHARE = 0.2
_RELATIONS = ("founded", "acquired", "visited", "praised", "joined",
              "admired", "is the president of", "is the owner of",
              "works for", "was born in", "moved to", "sued",
              "partnered with", "invested in", "met with", "criticized")


def _name(rng: np.random.Generator) -> str:
    words = []
    for _ in range(3):
        n_syl = int(rng.integers(2, 4))
        words.append("".join(
            _ONSETS[rng.integers(len(_ONSETS))]
            + _VOWELS[rng.integers(len(_VOWELS))]
            for _ in range(n_syl)).capitalize())
    return " ".join(words)


def _typo(rng: np.random.Generator, name: str) -> str:
    """One letter substituted, away from word starts and spaces."""
    spots = [i for i, c in enumerate(name)
             if c.isalpha() and i > 0 and name[i - 1] != " "]
    i = spots[rng.integers(len(spots))]
    pool = [c for c in "bdfgklmnprstvz" if c != name[i].lower()]
    return name[:i] + pool[rng.integers(len(pool))] + name[i + 1:]


def _spellings(rng: np.random.Generator, name: str) -> list[str]:
    """Surface variants of one entity: the same normalized form spelled
    with articles, case and punctuation, plus distinct forms that
    linking must merge (suffixes and typos)."""
    out = [name, name.upper(), name.lower(),
           f"{_ARTICLES[rng.integers(3)]} {name}",
           name.replace(" ", "-", 1)]
    for s in rng.choice(len(_SUFFIXES), size=int(rng.integers(1, 3)),
                        replace=False):
        out.append(f"{name} {_SUFFIXES[s]}")
    for _ in range(int(rng.integers(1, 3))):
        out.append(_typo(rng, name))
    return out


def link_mentions(n_clusters: int, n_rows: int, seed: int):
    """-> (mentions pandas frame, {spelling: cluster id}).

    Cluster 0 is the planted head entity: its spellings fill ~
    ``HEAD_SHARE`` of ``arg1``.  Every other argument draws a cluster
    uniformly, then one of its spellings uniformly."""
    rng = np.random.default_rng([seed, 1])
    names: set[str] = set()
    clusters: list[list[str]] = []
    while len(clusters) < n_clusters:
        name = _name(rng)
        if name.lower() in names:
            continue
        names.add(name.lower())
        clusters.append(_spellings(rng, name))
    spelling_cluster = {s: c for c, sp in enumerate(clusters) for s in sp}

    flat = [s for sp in clusters for s in sp]
    start = np.cumsum([0] + [len(sp) for sp in clusters])
    sizes = np.diff(start)

    def draw(cids):
        pick = (rng.random(len(cids)) * sizes[cids]).astype(np.int64)
        return [flat[i] for i in start[cids] + pick]

    arg1_c = rng.integers(1, n_clusters, size=n_rows)
    arg1_c[rng.random(n_rows) < HEAD_SHARE] = 0
    arg1 = draw(arg1_c)
    arg2 = draw(rng.integers(1, n_clusters, size=n_rows))
    # every spelling occurs at least once
    arg2[:len(flat)] = flat[:n_rows]
    rels = rng.integers(len(_RELATIONS), size=n_rows)
    pdf = pd.DataFrame({
        "doc_id": [f"doc-{i // 4:09d}" for i in range(n_rows)],
        "span_idx": (np.arange(n_rows) % 4).astype("int32"),
        "arg1_text": arg1,
        "rel_text": [_RELATIONS[r] for r in rels],
        "arg2_text": arg2,
        "conf": np.round(rng.uniform(0.2, 1.0, size=n_rows), 4),
    })
    return pdf, spelling_cluster


# ------------------------------------------------------------ curation

CURATION_TABLES = ("customer", "orders", "lineitem", "events",
                   "documents", "embeddings")
_WORDS = ("spark window merge table column vector stream value data "
          "small join filter big group hash customer sort order slow "
          "line part fast row the agg key query a scan batch").split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
_SEGMENTS = ("FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING",
             "HOUSEHOLD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
               "5-LOW")
_EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
NEAR_DUP_SHARE = 0.05


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, (hi_d - lo_d).astype(int) + 1, size=n)
    return (lo_d + off).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def curation_tables(scale: float, seed: int) -> dict[str, pd.DataFrame]:
    """-> {table: pandas frame} in the schema of the query tables, with
    ``scale`` 0.1 giving 600k lineitem rows and 5,000 documents."""
    rng = np.random.default_rng([seed, 2])
    n_cust, n_ord = int(150_000 * scale), int(1_500_000 * scale)
    n_li, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = int(50_000 * scale), int(20_000 * scale)
    out = {}
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(list("POF"))[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[
            rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, int(200_000 * scale), n_li),
        "l_suppkey": rng.integers(0, int(10_000 * scale), n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": np.array(list("RAN"))[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(list("OF"))[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": t0 + np.sort(rng.integers(0, span_us, n_ev)).astype(
            "timedelta64[us]"),
        "user_id": rng.integers(0, int(15_000 * scale), n_ev),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0, 560, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), k)])
             for k in rng.integers(10, 101, n_doc)]
    # near-duplicates: an earlier document with one word replaced
    for i in np.flatnonzero(rng.random(n_doc) < NEAR_DUP_SHARE):
        if i:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts[i] = " ".join(words)
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, size=n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.normal(size=(n_emb, 64))
    # near-duplicates: an earlier vector plus small noise
    for i in np.flatnonzero(rng.random(n_emb) < NEAR_DUP_SHARE):
        if i:
            emb[i] = emb[int(rng.integers(0, i))] \
                + rng.normal(scale=0.3, size=64)
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)) \
        .astype(np.float32)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return out


def write_curation_tables(path: str, scale: float, seed: int):
    """Materialize ``curation_tables`` as ``{path}/{table}.parquet``."""
    os.makedirs(path, exist_ok=True)
    for name, pdf in curation_tables(scale, seed).items():
        pdf.to_parquet(f"{path}/{name}.parquet", index=False)


def pairwise_pr(groups: list[list[str]],
                truth: dict[str, int]) -> tuple[float, float]:
    """Pairwise precision/recall of predicted groups against truth
    labels, over the items present in both."""
    def pairs(n):
        return n * (n - 1) // 2

    tp = pred = 0
    true_sizes: dict[int, int] = {}
    for g in groups:
        labels = [truth[x] for x in g if x in truth]
        pred += pairs(len(labels))
        for lab in set(labels):
            k = labels.count(lab)
            tp += pairs(k)
            true_sizes[lab] = true_sizes.get(lab, 0) + k
    true = sum(pairs(n) for n in true_sizes.values())
    return (tp / pred if pred else 1.0), (tp / true if true else 1.0)
