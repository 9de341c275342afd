r"""Iterative BPE tokenizer training — the full merge-learning loop.

``textanalysis.bpe_pair_counts`` computes ONE training iteration's
candidate table; this module runs the actual algorithm (Sennrich et
al. 2016, "Neural Machine Translation of Rare Words with Subword
Units"): repeatedly count adjacent symbol pairs over the
frequency-weighted vocabulary, merge the argmax pair everywhere, and
record the merge — the iterative algorithm family (k-means, PageRank
in ``llm/pipeline.py``) applied to tokenizer construction, the step a
training-data pipeline runs between corpus curation and tokenization.

Scale shape: the corpus collapses ONCE to the (word, freq) vocabulary
— after that every iteration is one map-side-combinable aggregation
plus one string rewrite over vocabulary rows, never the raw text.
Per-iteration driver traffic is exactly one row (the argmax pair —
the k-means-centroid pattern, bounded by n_merges). Lineage is
truncated per iteration with localCheckpoint, so the plan does not
grow with merge count. At 100 TB the vocabulary is ~10⁸ rows and each
iteration is a single agg + map over it.

The merge kernel is plain string functions, no arrays and no lambdas,
so Catalyst compiles it into the scan's generated code:

* **wrap** — ``regexp_replace(text, "(\S)", " $1 ")`` turns every
  non-whitespace code point ``c`` into its own symbol ``" c "``;
* **merge** — each learned merge is one ``replace(s, " l  r ",
  " lr ")`` over the whole string;
* **count** — each symbol adds exactly two spaces to the text, so a
  string's symbol count is ``(length(s) - length(text)) / 2``.

Why the space delimiter cannot collide with the data: tokens are the
maximal ``\S`` runs (``WS_RE`` splits on ``\s+``, the same Java class),
so no symbol ever contains whitespace. Inside a token two symbols are
exactly two spaces apart; between tokens the gap is the original
whitespace plus one space on each side — at least three whitespace
characters — so ``" l  r "`` can only match two adjacent symbols of
the same token, and a merge never crosses a token boundary. ``replace``
scans forward and never rescans what it emitted, so each merge is
exactly the greedy left-to-right non-overlapping pass of standard BPE
("aaaa" + (a,a) → [aa, aa]). Java regex matches whole code points, so
a supplementary-plane character (emoji) is one symbol, not two UTF-16
surrogates, and ``length`` counts code points — the same symbols
DuckDB's code-point ``string_split(w, '')`` gives.

Greedy/overlap/tiebreak semantics are pinned against a pure-Python
reference implementation in tests AND against a full SQL oracle: the
argmax-per-iteration recursion IS expressible for a fixed merge budget
as an unrolled MATERIALIZED-CTE chain (``_bpe_chain`` — the k-truss
unroll discipline). The oracle deliberately keeps its own ``chr(31)``
delimiter form of the same replace trick, so the two engines share no
kernel code. Both bpe_train_merges and bpe_encode_docs are
hash-checked end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

N_MERGES = 8


def _word_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_rust_spark.llm.textanalysis import _tok_table
    return (_tok_table(spark, sf_dir)
            .groupBy(F.col("tok").alias("w"))
            .agg(F.count("*").alias("freq")))


def _wrap(text) -> Column:
    """Every non-whitespace code point as its own ``" c "`` symbol
    (module docstring)."""
    return F.regexp_replace(text, r"(\S)", " $1 ")


def _merge(s: Column, left: str, right: str) -> Column:
    """One greedy left-to-right merge pass over a wrapped string."""
    return F.replace(s, F.lit(f" {left}  {right} "),
                     F.lit(f" {left}{right} "))


def _encode(text, merges: list[tuple]) -> Column:
    """The wrapped string after every learned merge, in training
    order."""
    s = _wrap(text)
    for _step, left, right, _merged, _c in merges:
        s = _merge(s, left, right)
    return s


def _symbols(s) -> Column:
    """A wrapped single-token string's symbol array."""
    return F.split(F.trim(s), "  ")


# Session-scoped memo of the learned merge list. BOTH registered BPE
# queries run the same training loop over the same corpus vocabulary
# (bpe_train_merges reports it; bpe_encode_docs applies it), so in any
# multi-query session each re-pays n_merges aggregate+collect rounds —
# the production answer is to materialize the shared learned artifact
# once, exactly like the co-purchase edge memo (`graph._EDGE_MEMO`
# discipline: keyed by (applicationId, semanticHash of the input
# plan, n_merges), so a new session, a different corpus, or a
# different merge budget misses by construction; the value is a
# driver-side list of ≤ n_merges 5-tuples, bytes not DataFrames).
_MERGES_MEMO: dict[tuple[str, int, int], list[tuple]] = {}


def bpe_train(words: DataFrame, n_merges: int) -> list[tuple]:
    """Learn ``n_merges`` BPE merges from a (w, freq) vocabulary.
    Returns [(step, left, right, merged, pair_count), ...].
    Deterministic: argmax ties break on (left, right) ascending."""
    spark = words.sparkSession
    app_id = spark.sparkContext.applicationId
    for k in [k for k in _MERGES_MEMO if k[0] != app_id]:
        del _MERGES_MEMO[k]
    memo_key = (app_id, words.semanticHash(), n_merges)
    cached = _MERGES_MEMO.get(memo_key)
    if cached is not None:
        return list(cached)
    # lazy (round 13): the first pair-count materializes it inside
    # its own job — the loop-body precedent
    vocab = (words.select("freq", _wrap(F.col("w")).alias("s"))
                  .localCheckpoint(eager=False))
    merges: list[tuple] = []
    for step in range(1, n_merges + 1):
        pairs = (vocab
                 .select("freq", _symbols("s").alias("syms"))
                 .filter(F.size("syms") >= 2)
                 .select("freq", F.explode(F.arrays_zip(
                     F.slice("syms", 1, F.size("syms") - 1).alias("l"),
                     F.slice("syms", 2, F.size("syms") - 1).alias("r")))
                     .alias("p"))
                 .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                 .agg(F.sum("freq").alias("c")))
        top = (pairs.orderBy(F.col("c").desc(), "l", "r").limit(1)
                    .collect())  # 1-row driver collect per iteration
        if not top:
            break
        left, right, count = top[0]["l"], top[0]["r"], int(top[0]["c"])
        vocab = (vocab.select("freq", _merge(F.col("s"), left, right)
                              .alias("s"))
            # round 12: LAZY lineage cut — the next iteration's pair
            # count is the first action over the rewritten vocab, so a
            # non-eager checkpoint materializes it inside THAT job
            # instead of scheduling a separate eager job per round
            # (halves the per-iteration job count; same k·V scale
            # shape — blocks are still pinned after first use)
            .localCheckpoint(eager=False))
        merges.append((step, left, right, left + right, count))
    _MERGES_MEMO[memo_key] = list(merges)
    return merges


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table over ``documents`` (N_MERGES rows:
    step, left, right, merged, pair_count)."""
    merges = bpe_train(_word_freqs(spark, sf_dir), N_MERGES)
    return spark.createDataFrame(
        merges, "step int, left string, right string, merged string, "
                "pair_count long")


def bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: encode every document with the merge
    table ``bpe_train`` just learned — the deploy half of the
    tokenizer story (train on the corpus, then tokenize the corpus
    with the result). Reports per-doc whitespace-token count, subword
    count after the merges, and the exact compression ratio.

    Scale shape: the merge table is tiny (N_MERGES rows, already
    driver-side from training — a real deployment broadcasts a stored
    ~10⁴-row table the same way) and is baked into the plan as
    literals; encoding is then a ZERO-shuffle scan — per document, one
    wrap plus N_MERGES ``replace`` passes over the whole text (the
    module's string kernel), no split, no explode, no lambda, no
    Python. Oracled since round 9: the merge table IS learnable
    relationally (``_bpe_chain`` unrolls the training loop), so the
    oracle re-trains and re-encodes end to end; the kernel is
    additionally pinned against a pure-Python greedy-merge reference
    in tests/test_graph_bpe.py."""
    merges = bpe_train(_word_freqs(spark, sf_dir), N_MERGES)
    from mapreduce_rust_spark.tables import load_table
    docs = load_table(spark, sf_dir, "documents")
    n_sub = (F.length(_encode(F.col("text"), merges))
             - F.length("text")) / 2
    d = docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(r"\S+")).cast("long").alias("n_tokens"),
        n_sub.cast("long").alias("n_subwords"))
    # fertility = subwords emitted per whitespace token (≥ 1; lower =
    # better merge coverage), the standard tokenizer-quality metric
    return d.select(
        "doc_id", "n_tokens", "n_subwords",
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
         .otherwise(F.col("n_subwords").cast("double") / F.col("n_tokens"))
         .alias("fertility"))


REGISTRATIONS = [
    ("bpe_train_merges", bpe_train_merges, None),
    ("bpe_encode_docs", bpe_encode_docs, None),
]


def _bpe_chain(carry_w: bool, n_merges: int = N_MERGES) -> str:
    """The shared unrolled (pair-count → argmax → merge-apply) CTE
    chain for both BPE oracles — the ``ktruss_edges_parts``
    discipline applied to the training LOOP, one MATERIALIZED round
    per learned merge, so DuckDB re-runs the exact greedy algorithm.

    The merge application mirrors the Spark fold via a delimiter
    trick: each symbol is individually wrapped (``\\x1f sym \\x1f``),
    and ``replace(s, ␟l␟␟r␟, ␟lr␟)`` is exactly the left-to-right
    non-overlapping greedy pass — SQL ``replace`` scans forward and
    never rescans emitted text, and ``merged == left`` would need an
    empty right symbol, so neither engine can chain within a pass.
    Argmax ties break (count DESC, left, right) on both sides.
    ``carry_w`` keeps the word key through the chain (the encode
    oracle joins the final symbol table back to documents).

    Vocabulary exhaustion: when no pair remains before round
    ``n_merges`` the Spark trainer breaks early, so ``m{{r}}`` must be
    allowed to be EMPTY without emptying the symbol table — ``w{{r}}``
    is a LEFT JOIN ON TRUE with ``COALESCE(replace(...), s)`` so an
    empty argmax carries ``w{{r-1}}`` through unchanged (an inner
    cross join would zero every doc's counts on a degenerate
    corpus)."""
    S = "chr(31)"
    wc = "w, " if carry_w else ""
    out = [f"""
tok AS (
  SELECT t.tok AS w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                  x -> x <> '')) AS tok
        FROM documents) t
  GROUP BY t.tok
),
w0 AS MATERIALIZED (
  SELECT {wc}freq,
         {S} || array_to_string(string_split(w, ''), {S} || {S}) || {S}
           AS s
  FROM tok
)"""]
    for r in range(1, n_merges + 1):
        out.append(f""",
p{r} AS (
  SELECT u.z[1] AS lft, u.z[2] AS rgt, CAST(SUM(freq) AS BIGINT) AS c
  FROM (SELECT freq,
               string_split(trim(s, {S}), {S} || {S}) AS syms
        FROM w{r - 1}) t,
       UNNEST(list_zip(syms[1:len(syms) - 1], syms[2:len(syms)]))
         AS u(z)
  GROUP BY 1, 2
),
m{r} AS MATERIALIZED (
  SELECT {r} AS step, lft, rgt, lft || rgt AS merged, c
  FROM p{r} ORDER BY c DESC, lft, rgt LIMIT 1
),
w{r} AS MATERIALIZED (
  SELECT {wc}freq,
         COALESCE(replace(s, {S} || lft || {S} || {S} || rgt || {S},
                          {S} || merged || {S}), s) AS s
  FROM w{r - 1} LEFT JOIN m{r} ON TRUE
)""")
    return "".join(out)


def _bpe_train_oracle(n_merges: int = N_MERGES) -> str:
    union = "\nUNION ALL\n".join(
        f'SELECT CAST(step AS INT) AS step, lft AS "left", '
        f'rgt AS "right", merged, c AS pair_count FROM m{r}'
        for r in range(1, n_merges + 1))
    return "WITH" + _bpe_chain(carry_w=False) + "\n" + union


def _bpe_encode_oracle(n_merges: int = N_MERGES) -> str:
    """Per-doc encode readout from the SAME learned chain: the final
    symbol table (word → merged symbol count) joins back to the
    token stream; empty docs keep n_tokens = 0 via the LEFT JOIN."""
    S = "chr(31)"
    return f"""WITH{_bpe_chain(carry_w=True)},
enc AS (
  SELECT w, CAST(len(string_split(trim(s, {S}), {S} || {S}))
                 AS BIGINT) AS n_sub
  FROM w{n_merges}
),
dtok AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                    x -> x <> '')) AS tok
  FROM documents
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(n_sub) AS BIGINT) AS n_subwords
  FROM dtok JOIN enc ON dtok.tok = enc.w
  GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(n_tokens, 0) AS n_tokens,
       COALESCE(n_subwords, 0) AS n_subwords,
       CASE WHEN COALESCE(n_tokens, 0) = 0 THEN 0.0
            ELSE CAST(n_subwords AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       END AS fertility
FROM documents d LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id
"""


BPE_TRAIN_ORACLE = _bpe_train_oracle()

# bpe_train_merges registered rows-only above (the oracle text is
# defined below the list); promote it — the training loop is now
# fully re-derived relationally, converting the tokenizer-training
# flagship from rows-only to hash-checked
BPE_ENCODE_ORACLE = _bpe_encode_oracle()

_PROMOTED = {"bpe_train_merges": BPE_TRAIN_ORACLE,
             "bpe_encode_docs": BPE_ENCODE_ORACLE}
REGISTRATIONS[:] = [(n, f, _PROMOTED.get(n, o)) for n, f, o in REGISTRATIONS]
