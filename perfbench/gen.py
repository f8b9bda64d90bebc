"""Seeded generator for the TPC-H-ish test tables the SparkEntry ops read.

The tables copy the schemas and the measured value shapes of the repo's
fixed sf0.01 test tables (figures in DESIGN.md, "Inputs"), so every
SparkEntry op and its DuckDB oracle run on them unchanged and see the same
kind of load.  The same seed gives byte-identical parquet files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
DOC_WORDS = (10, 99)  # document length in words, uniform, inclusive
DUP_SHARE = 0.05  # documents that are another document's text plus " dup"
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SHIP_DAY0_US = 789004800 * 1_000_000  # 1995-01-02 in microseconds
SHIP_DAYS = 2499
ADJ = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
NOUN = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def geo_tables(out, seed, n_lineitem, n_orders, n_part):
    """lineitem/part: the inputs of GeoTables.points/rects.  `l_orderkey` is
    uniform over `n_orders` orders and `l_linenumber` uniform over 1..7,
    independently, as in the test data, so (orderkey, linenumber) repeats
    and the points derivation's groupBy has work to do."""
    rng = np.random.default_rng([seed, 1])
    n = n_lineitem
    days = rng.integers(0, SHIP_DAYS, n)
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, n_part, n),
        "l_suppkey": rng.integers(0, 100, n),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.10, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n)),
        "l_linestatus": pa.array(rng.choice(np.array(["O", "F"]), n)),
        "l_shipdate": pa.array(SHIP_DAY0_US + days * 86_400_000_000, pa.timestamp("us")),
    })
    k = np.arange(n_part, dtype=np.int64)
    _write(f"{out}/part.parquet", {
        "p_partkey": k,
        "p_name": pa.array(np.char.add(np.char.add(rng.choice(ADJ, n_part), " "),
                                       rng.choice(NOUN, n_part))),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(rng.choice(TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (k % 1000) * 0.1, 2),
    })


def corpus_tables(out, seed, n_docs, n_vecs, dims=64):
    """documents: uniform word bags over the test data's 30-word vocabulary,
    with `DUP_SHARE` of them replaced by another document's text plus " dup"
    (a chain when that document is itself a duplicate); embeddings: isotropic
    unit vectors with no planted near-duplicates, as in the test data."""
    rng = np.random.default_rng([seed, 2])
    words = np.array(WORDS)
    # lengths stratified within each source (document i is in source i % 20):
    # still uniform over DOC_WORDS, but every source holds the same mix, so
    # the text volume of the sources an op filters on (q25 reads two) does
    # not swing the per-pass shuffle from seed to seed
    lo, span = DOC_WORDS[0], DOC_WORDS[1] - DOC_WORDS[0] + 1
    lengths = np.empty(n_docs, dtype=np.int64)
    for src in range(20):
        idx = np.arange(src, n_docs, 20)
        strata = (rng.permutation(len(idx)) + rng.random(len(idx))) / len(idx)
        lengths[idx] = lo + (strata * span).astype(np.int64)
    texts = [" ".join(rng.choice(words, int(n))) for n in lengths]
    for i in rng.choice(n_docs, round(n_docs * DUP_SHARE), replace=False):
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    _write(f"{out}/documents.parquet", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vecs, dims))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    })


def ensure(out, seed, spec):
    """Write the tables for `spec` into `out` unless a finished copy exists."""
    done = f"{out}/_DONE"
    if os.path.exists(done):
        return
    os.makedirs(out, exist_ok=True)
    if "geo" in spec:
        geo_tables(out, seed, *spec["geo"])
    if "corpus" in spec:
        corpus_tables(out, seed, *spec["corpus"])
    open(done, "w").close()
