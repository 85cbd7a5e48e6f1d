"""Seeded input generators for the benchmark.

Two input sets:

* ``write_tables`` writes the ten parquet tables the ``SparkEntry`` queries
  read (region … embeddings), shaped like the engine's sf0.01 test tables:
  the same schemas, row counts, key ranges, value domains and the ~5% of
  documents planted as near-duplicates (an existing text plus " dup").
* ``write_corpus`` writes the word-count / inverted-index corpus: plain-text
  files, one document per line, words drawn from a Zipf(1.0) vocabulary with
  mixed case, punctuation and non-ASCII letters; the same lines also go to
  ``documents.parquet`` with a ``doc_id``.

Both are pure functions of their seed: the same seed gives byte-identical
files (numpy's PCG64 stream and a fixed parquet writer configuration).
"""
import datetime as _dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_NAMES = ("region", "nation", "customer", "supplier", "part",
               "orders", "lineitem", "events", "documents", "embeddings")

# Row counts of the engine's sf0.01 tables (documents and embeddings do not
# scale linearly there; they are 500 rows each at sf0.01).
TABLE_ROWS = {"customer": 1500, "supplier": 100, "part": 2000,
              "orders": 15000, "lineitem": 60000, "events": 10000,
              "documents": 500, "embeddings": 500}

DOC_WORDS = ("join hash row batch scan customer column filter small slow "
             "merge order vector line data table agg value key stream window "
             "spark a group part big sort query fast the").split()


def _write(table, path):
    pq.write_table(table, path, compression="snappy",
                   use_dictionary=True, write_statistics=True)


def _ts(epoch_us):
    return pa.array(epoch_us, type=pa.timestamp("us"))


def _epoch_us(y, m, d):
    return int((_dt.datetime(y, m, d) - _dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def write_tables(out_dir, seed):
    """Write the ten query tables under ``out_dir`` (``<name>.parquet``)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    n = TABLE_ROWS
    day_us = 86_400 * 1_000_000

    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }), f"{out_dir}/nation.parquet")

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"], dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2)),
        "c_mktsegment": segs[rng.integers(0, 5, n["customer"])].tolist(),
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"], dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2)),
    }), f"{out_dir}/supplier.parquet")

    colors = np.array("red blue green small large black white steel".split())
    things = np.array("widget bolt ring gear valve spring panel cable".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n["part"], dtype=np.int64)
    _write(pa.table({
        "p_partkey": pa.array(pk),
        "p_name": [f"{c} {t}" for c, t in zip(colors[rng.integers(0, 8, n["part"])],
                                              things[rng.integers(0, 8, n["part"])])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": types[rng.integers(0, 6, n["part"])].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n["part"], dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1)),
    }), f"{out_dir}/part.parquet")

    lo, hi = _epoch_us(1995, 1, 1) // day_us, _epoch_us(2001, 8, 1) // day_us
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n["orders"], dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"], dtype=np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n["orders"])].tolist(),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n["orders"]), 2)),
        "o_orderdate": _ts(rng.integers(lo, hi + 1, n["orders"]) * day_us),
        "o_orderpriority": prio[rng.integers(0, 5, n["orders"])].tolist(),
    }), f"{out_dir}/orders.parquet")

    m = n["lineitem"]
    slo, shi = _epoch_us(1995, 1, 2) // day_us, _epoch_us(2001, 11, 4) // day_us
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n["part"], m, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, m, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, m), 2)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)].tolist(),
        "l_shipdate": _ts(rng.integers(slo, shi + 1, m) * day_us),
    }), f"{out_dir}/lineitem.parquet")

    e = n["events"]
    gaps = rng.exponential(259.0, e) * 1_000_000  # mean gap 4.3 min over ~30 days
    ts = _epoch_us(2024, 1, 1) + np.cumsum(gaps).astype(np.int64)
    _write(pa.table({
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 150, e, dtype=np.int64)),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, e)].tolist(),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    }), f"{out_dir}/events.parquet")

    d = n["documents"]
    words = np.array(DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(10, 100, d)]
    # ~5% near-duplicates: another document's text plus " dup" (the shape
    # the dedup families are tuned to find).
    for i in np.flatnonzero(rng.random(d) < 0.05):
        texts[i] = texts[int(rng.integers(0, d))] + " dup"
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write(pa.table({
        "doc_id": pa.array(np.arange(d, dtype=np.int64)),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), d)].tolist(),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), f"{out_dir}/documents.parquet")

    v = n["embeddings"]
    labels = rng.integers(0, 10, v)
    centers = rng.normal(0.0, 1.0, (10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    x = rng.normal(0.0, 1.0, (v, 64)) / 8.0 + 0.14 * centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(v, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }), f"{out_dir}/embeddings.parquet")


# Letters for corpus words: ASCII plus Latin-1, Greek and Cyrillic letters,
# so tokenizing on "runs of Unicode letters" is exercised beyond ASCII.
_LETTERS = list("abcdefghijklmnopqrstuvwxyz" * 4 + "éèàüöäßçñøåæ" + "αβγδλμπσω" + "жзлмнпрст")
_PUNCT = np.array([",", ".", ";", ":", "!", "?", " -", "'s", "—", " (1)", " 42", "\""])


def _vocabulary(rng, size):
    letters = np.array(_LETTERS)
    words, seen = [], set()
    while len(words) < size:
        lens = rng.integers(2, 10, size)
        chars = letters[rng.integers(0, len(letters), int(lens.sum()))]
        ends = np.cumsum(lens)
        for a, b in zip(ends - lens, ends):
            w = "".join(chars[a:b])
            if w not in seen and len(words) < size:
                seen.add(w)
                words.append(w)
    return np.array(words, dtype=object)


# The vocabulary is the same for every seed: which words hold the top Zipf
# ranks sets the corpus's bytes per token, and with a vocabulary drawn per
# seed the corpus size varied by 8% between seeds. The seed draws the text.
VOCAB_SEED = 0


def corpus_lines(seed, total_bytes, n_files, vocab_size=50_000):
    """The corpus as a list of files, each a list of document lines."""
    vocab = _vocabulary(np.random.Generator(np.random.PCG64(VOCAB_SEED)), vocab_size)
    rng = np.random.Generator(np.random.PCG64(seed))
    # Zipf(1.0) over the finite vocabulary: P(rank k) ∝ 1/k.
    cdf = np.cumsum(1.0 / np.arange(1, vocab_size + 1))
    cdf /= cdf[-1]
    per_file = total_bytes // n_files
    files = []
    for _ in range(n_files):
        n_tok = per_file // 7  # ~7 bytes per token incl. separators
        ids = np.minimum(np.searchsorted(cdf, rng.random(n_tok)), vocab_size - 1)
        toks = vocab[ids]
        case = rng.random(n_tok)
        for i in np.flatnonzero(case < 0.10):
            toks[i] = toks[i].capitalize()
        for i in np.flatnonzero(case > 0.98):
            toks[i] = toks[i].upper()
        punct = rng.random(n_tok) < 0.08
        toks[punct] = toks[punct] + _PUNCT[rng.integers(0, len(_PUNCT), int(punct.sum()))]
        lengths = rng.integers(20, 200, n_tok // 20 + 1)
        bounds = np.cumsum(lengths)
        bounds = bounds[bounds < n_tok]
        files.append([" ".join(doc) for doc in np.split(toks, bounds) if len(doc)])
    return files


def write_corpus(out_dir, seed, total_bytes, n_files):
    """Write ``part-NN.txt`` files and ``documents.parquet``; return the
    sha256 digest over every file written (in name order)."""
    os.makedirs(out_dir, exist_ok=True)
    files = corpus_lines(seed, total_bytes, n_files)
    all_lines = []
    for i, lines in enumerate(files):
        with open(f"{out_dir}/part-{i:02d}.txt", "w", encoding="utf-8", newline="\n") as f:
            f.write("\n".join(lines) + "\n")
        all_lines.extend(lines)
    _write(pa.table({
        "doc_id": pa.array(np.arange(len(all_lines), dtype=np.int64)),
        "text": all_lines,
    }), f"{out_dir}/documents.parquet")
    return digest(out_dir)


def digest(out_dir):
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        h.update(name.encode())
        with open(os.path.join(out_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()
