"""Seeded generator for the benchmark's inputs.

Writes the ten fixture tables the engine's queries read (same names,
columns and types as the repository's TPC-H-ish test fixtures, at a
chosen scale factor) and, on request, a Gutenberg-shaped text corpus:
six ``gut-<i>.txt`` files, the shape of the reference job's own input.

Two text shapes, each taken from what it stands in for:

- The corpus has the reference's documented size (FIXTURES.md: six
  files, 704,463 words). Words follow Zipf's law with exponent 1, the
  classical value for English text (Zipf 1949; Piantadosi 2014 finds
  exponents near 1 across corpora). The vocabulary has 34,000 words, so
  that the expected number of distinct words in 704,463 draws (~32,500)
  meets Heaps' law V = 44 n^0.49 with the English-text constants in
  Manning, Raghavan and Schuetze, *Introduction to Information
  Retrieval*, sec. 5.1.1 (~32,300). Draws go through a precomputed
  cumulative table, so the corpus takes well under a second. The
  generator keeps its exact token counts; they are the word-count
  oracle.
- The ``documents`` table has the shape measured on the repository's
  fixture ``documents`` table: 10 to 100 words drawn uniformly from the
  same 30 words, and 5% near copies, each an earlier document with
  `` dup`` appended. Exact duplicates arise, as there, only where two
  near copies share a source.

The same ``(seed, part, sf, corpus_words)`` always gives byte-identical
files.
"""

from __future__ import annotations

import functools
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

GUT_FILES = 6
CORPUS_WORDS = 704_463     # the reference corpus, FIXTURES.md
VOCAB_SIZE = 34_000        # Heaps' law at CORPUS_WORDS, see above
ZIPF_S = 1.0
# Calibrated so the corpus has the reference's bytes per word
# (4.0 MB / 704,463 words, about 5.7 with separators).
RANK_JITTER = 4.5
WORDS_PER_LINE = (4, 20)   # uniform, both ends included: ~70-char lines
DOC_WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
             "filter", "group", "hash", "join", "key", "line", "merge", "order",
             "part", "query", "row", "scan", "slow", "small", "sort", "spark",
             "stream", "table", "the", "value", "vector", "window")
DOC_LENGTH = (10, 100)     # words, uniform, both ends included
NEAR_DUP_FRAC = 0.05
EMBED_DIM = 64
N_LABELS = 10

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_FLAGS = ["NO", "AF", "AO", "RO", "RF", "NF"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_PUNCT = np.array(["", "", "", "", "", "", "", "", "", "", ",", "."])

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


@functools.cache
def vocabulary() -> tuple[str, ...]:
    """Fixed (seed-independent) list of ``VOCAB_SIZE`` distinct lowercase
    pseudo-words of one to five syllables, most frequent first. Words
    are ``[a-z]`` only, so the reference tokenizer keeps each one whole.
    Short words tend to take the frequent ranks, as in natural text; the
    rank order is word length plus ``RANK_JITTER`` times a uniform draw,
    which sets the mean length of a drawn word."""
    rng = np.random.default_rng(12345)
    onsets = np.array(["", "b", "c", "d", "f", "g", "h", "l", "m", "n", "p",
                       "r", "s", "t", "v", "w", "br", "ch", "st", "th", "tr"], dtype=object)
    vowels = np.array(["a", "e", "i", "o", "u", "ai", "ea", "ou"], dtype=object)
    codas = np.array(["", "", "n", "r", "s", "t", "l", "nd", "st"], dtype=object)
    n = 2 * VOCAB_SIZE   # candidates; repeats are dropped
    n_syl = rng.integers(1, 6, n)
    cand = np.full(n, "", dtype=object)
    for i in range(5):
        syl = (onsets[rng.integers(0, len(onsets), n)] + vowels[rng.integers(0, len(vowels), n)]
               + codas[rng.integers(0, len(codas), n)])
        cand = np.where(i < n_syl, cand + syl, cand)
    words = list(dict.fromkeys(cand))[:VOCAB_SIZE]
    assert len(words) == VOCAB_SIZE
    key = np.array([len(w) for w in words]) + RANK_JITTER * rng.random(VOCAB_SIZE)
    return tuple(words[i] for i in np.argsort(key, kind="stable"))


def _zipf_cdf() -> np.ndarray:
    w = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
    cdf = np.cumsum(w)
    return cdf / cdf[-1]


def _cents(rng, lo: int, hi: int, n: int) -> np.ndarray:
    """Uniform money values with two decimals, as correctly rounded
    doubles (integer cents / 100), like the fixtures'."""
    return rng.integers(lo, hi + 1, n) / 100.0


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _documents(rng, n_docs: int) -> list[str]:
    """Fixture-shaped documents: uniform draws from ``DOC_WORDS``; a
    ``NEAR_DUP_FRAC`` share are an earlier document plus `` dup``."""
    words = np.array(DOC_WORDS, dtype=object)
    lengths = rng.integers(DOC_LENGTH[0], DOC_LENGTH[1] + 1, n_docs)
    ids = rng.integers(0, len(words), int(lengths.sum()))
    starts = np.concatenate([[0], np.cumsum(lengths)])
    near = rng.random(n_docs) < NEAR_DUP_FRAC
    texts: list[str] = []
    for d in range(n_docs):
        if d > 0 and near[d]:
            texts.append(texts[int(rng.integers(0, d))] + " dup")
        else:
            texts.append(" ".join(words[ids[starts[d]:starts[d + 1]]]))
    return texts


def _corpus(rng, n_words: int) -> tuple[list[str], dict[str, int]]:
    """``GUT_FILES`` file bodies of ``n_words`` Zipf-drawn words in
    lines, and the exact token counts of the text."""
    vocab = np.array(vocabulary(), dtype=object)
    ids = np.minimum(np.searchsorted(_zipf_cdf(), rng.random(n_words)),
                     VOCAB_SIZE - 1)
    punct = _PUNCT[rng.integers(0, len(_PUNCT), n_words)]
    tokens = vocab[ids] + punct
    line_len = rng.integers(WORDS_PER_LINE[0], WORDS_PER_LINE[1] + 1,
                            n_words // WORDS_PER_LINE[0] + 1)
    ends = np.cumsum(line_len)
    ends = np.append(ends[ends < n_words], n_words)
    lines = [" ".join(tokens[a:b]) for a, b in zip(np.append(0, ends[:-1]), ends)]
    step = -(-len(lines) // GUT_FILES)
    files = ["".join(line + "\n" for line in lines[i * step:(i + 1) * step])
             for i in range(GUT_FILES)]
    counts = np.bincount(ids, minlength=VOCAB_SIZE)
    return files, {vocab[i]: int(c) for i, c in enumerate(counts) if c}


def _tables(rng, sf: float, wanted: set[str]) -> dict[str, pa.Table]:
    """The ``wanted`` tables by name."""
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_line = max(int(6_000_000 * sf), 2_000)
    n_users = max(int(15_000 * sf), 20)
    n_events = max(int(1_000_000 * sf), 1_000)
    n_docs = max(int(50_000 * sf), 100)
    n_vec = max(int(20_000 * sf), 100)
    out: dict[str, pa.Table] = {}
    # Every table draws from its own child stream, so asking for a
    # subset of tables leaves the ones generated unchanged.
    streams = dict(zip(TABLES, rng.spawn(len(TABLES))))
    if "region" in wanted:
        out["region"] = pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS})
    if "nation" in wanted:
        out["nation"] = pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if "customer" in wanted:
        r = streams["customer"]
        out["customer"] = pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _cents(r, -99_999, 999_999, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, n_cust)]})
    if "supplier" in wanted:
        r = streams["supplier"]
        out["supplier"] = pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _cents(r, -99_999, 999_999, n_supp)})
    if "part" in wanted:
        r = streams["part"]
        keys = np.arange(n_part, dtype=np.int64)
        names = (np.array(_PART_ADJ, dtype=object)[r.integers(0, 8, n_part)]
                 + " " + np.array(_PART_NOUN, dtype=object)[r.integers(0, 8, n_part)])
        out["part"] = pa.table({
            "p_partkey": keys,
            "p_name": names.astype(str),
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
            "p_type": np.array(_PART_TYPES)[r.integers(0, 6, n_part)],
            "p_size": r.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": (9_000 + keys % 1_000) / 10.0})
    if "orders" in wanted:
        r = streams["orders"]
        days = r.integers(0, 2_404, n_ord)  # 1995-01-01 .. 2001-08-01
        out["orders"] = pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": _cents(r, 100_191, 49_999_318, n_ord),
            "o_orderdate": _ts(_EPOCH_1995 + days * _DAY_US),
            "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, n_ord)]})
    if "lineitem" in wanted:
        r = streams["lineitem"]
        flags = np.array(_FLAGS)[r.integers(0, len(_FLAGS), n_line)]
        days = r.integers(1, 2_499, n_line)  # 1995-01-02 .. 2001-11-04
        out["lineitem"] = pa.table({
            "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _cents(r, 90_068, 10_499_991, n_line),
            "l_discount": r.integers(0, 11, n_line) / 100.0,
            "l_tax": r.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array([f[0] for f in flags]),
            "l_linestatus": np.array([f[1] for f in flags]),
            "l_shipdate": _ts(_EPOCH_1995 + days * _DAY_US)})
    if "events" in wanted:
        r = streams["events"]
        ts = np.sort(_EPOCH_2024 + r.integers(0, 30 * _DAY_US, n_events))
        out["events"] = pa.table({
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": r.integers(0, n_users, n_events).astype(np.int64),
            "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, n_events)],
            "value": np.round(r.exponential(60.0, n_events) * 100) / 100.0,
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)]})
    if "documents" in wanted:
        r = streams["documents"]
        texts = _documents(r, n_docs)
        out["documents"] = pa.table({
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[r.integers(0, 5, n_docs)],
            "source": [f"src{s}" for s in r.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    if "embeddings" in wanted:
        r = streams["embeddings"]
        centers = r.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
        labels = r.integers(0, N_LABELS, n_vec)
        vecs = centers[labels] + r.normal(0.0, 1.5, (n_vec, EMBED_DIM))
        vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
        out["embeddings"] = pa.table({
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32)})
    return out


def word_counts(sf_dir: str) -> dict[str, int]:
    """Exact token counts of ``sf_dir``'s corpus, as generated."""
    with open(os.path.join(sf_dir, "word_counts.json")) as f:
        return json.load(f)


def generate(sf_dir: str, seed: int, sf: float, tables=TABLES, part: int = 0,
             corpus_words: int = 0) -> str:
    """Write ``tables`` at scale ``sf`` from ``(seed, part)`` into
    ``sf_dir`` (skipped when a previous call finished it); distinct
    ``part``s are independent input sets of the same size. With
    ``corpus_words``, also writes a ``gut-<i>.txt`` corpus of that many
    words and its exact ``word_counts.json``. Returns ``sf_dir``."""
    done = os.path.join(sf_dir, "_DONE")
    if os.path.exists(done):
        return sf_dir
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng([seed, part, int(round(sf * 1e6)), corpus_words])
    table_rng, corpus_rng = rng.spawn(2)
    for name, table in _tables(table_rng, sf, set(tables)).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    if corpus_words:
        files, counts = _corpus(corpus_rng, corpus_words)
        for i, body in enumerate(files):
            with open(os.path.join(sf_dir, f"gut-{i}.txt"), "w") as f:
                f.write(body)
        with open(os.path.join(sf_dir, "word_counts.json"), "w") as f:
            json.dump(counts, f)
    with open(done, "w") as f:
        f.write(json.dumps({"seed": seed, "part": part, "sf": sf,
                            "tables": list(tables), "corpus_words": corpus_words}))
    return sf_dir
