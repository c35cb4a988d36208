"""Text analysis operators (SURVEY §2.3 N★): language ID, quality scoring,
token counting, document fingerprinting.

All pure column expressions (JVM codegen) — these run per-document over
100 TB corpora, so no Python in the path. The one exception is
``greedy_bins``, the sequential packing recurrence that the grouped-map
packers run per shard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mongo_to_parquet_spark.functions.textfns import mean_word_len, token_count, tokens
from mongo_to_parquet_spark.operators.parallel import fan_out

#: tiny per-language stopword profiles for the n-gram/stopword heuristic.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "et", "des"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["的", "是", "了", "在", "我"],
}


def lang_id_score(text, lang: str) -> Column:
    """Fraction of tokens that are stopword markers of ``lang``."""
    toks = tokens(text)
    markers = F.array(*[F.lit(m) for m in _LANG_MARKERS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(markers, F.lower(t))))
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def lang_id(text) -> Column:
    """argmax over language marker scores; 'und' when nothing matches.

    Deterministic tie-break: languages compared in sorted key order, strict
    ``>`` keeps the earlier winner.
    """
    out = F.lit("und")
    best = F.lit(0.0)
    for lang in sorted(_LANG_MARKERS):
        s = lang_id_score(text, lang)
        out = F.when(s > best, F.lit(lang)).otherwise(out)
        best = F.greatest(s, best)
    return out


def quality_score(text) -> Column:
    """[0,1] quality heuristic: length band + punctuation ratio + mean word
    length band + repetition (distinct-token ratio). Weighted mean of four
    deterministic subscores."""
    n = F.length(text).cast("double")
    toks = tokens(text)
    n_tok = F.greatest(F.size(toks), F.lit(1)).cast("double")
    len_ok = F.when((n >= 20) & (n <= 10000), 1.0).otherwise(0.0)
    punct = F.regexp_count(text, F.lit(r"[^\w\s]")).cast("double") / n
    punct_ok = F.when(punct <= 0.2, 1.0).otherwise(0.0)
    mwl = mean_word_len(text)
    mwl_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), 1.0).otherwise(0.0)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tok
    return F.round(
        0.25 * len_ok + 0.25 * punct_ok + 0.25 * mwl_ok + 0.25 * distinct_ratio, 4
    )


def fingerprint(text, window: int = 4) -> Column:
    """Winnowing-style document fingerprint: min rolling-window hash over the
    token stream (robust to suffix/prefix edits, unlike a full-text hash)."""
    toks = tokens(text)
    k = F.greatest(F.size(toks) - F.lit(window - 1), F.lit(1))
    window_hashes = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.xxhash64(F.array_join(F.slice(toks, i, window), " ")),
    )
    return F.array_min(window_hashes)


def tfidf(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-(doc, token) TF-IDF: tf × ln(N / df).

    Three aggregations, all map-side-combinable: term frequency per
    (doc, token), document frequency per token, corpus size N (broadcast
    as a 1-row dim). At 100 TB the token explosion dominates the scan but
    every shuffle carries counts, never text. ln is IEEE-identical across
    engines, so the score is oracle-hash-checkable at 4 decimals.
    """
    tok = docs.select(F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.select(F.count(F.lit(1)).alias("n"))
    return (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_frac: float = 0.8,
    salt: str = "split1",
) -> DataFrame:
    """Deterministic, engine-portable train/test assignment.

    The first 4 hex chars of md5(salt ‖ id) are a uniform value in
    [0, 65536); rows below ``train_frac`` of that range are "train".
    Content-addressed — a row's split never changes as the corpus grows
    or repartitions (no RNG state, unlike ``randomSplit``), different
    salts give independent splits, and the comparison is a plain string
    inequality on the hex prefix so any engine with md5 computes the
    identical assignment (oracle-checked in queries/llm.py).
    """
    return df.withColumn("split", split_expr(F.col(id_col), train_frac, salt))


def split_expr(id_col, train_frac: float = 0.8, salt: str = "split1"):
    """The content-addressed split assignment as a bare Column — usable on
    ANY id-bearing relation (e.g. dedup pair endpoints in
    queries/llm.q_split_leakage) without joining back to the corpus: the
    split is a pure function of (salt, id)."""
    threshold = format(max(0, min(65536, round(train_frac * 65536))), "04x")
    bucket = F.substring(F.md5(F.concat(F.lit(salt), id_col.cast("string"))), 1, 4)
    return F.when(bucket < F.lit(threshold), "train").otherwise("test")


def pack_documents(
    docs: DataFrame,
    budget_tokens: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col=None,
) -> DataFrame:
    """Assign each document to a sequence-packing bin by running token
    offset: bin = floor(exclusive-cumulative-tokens / budget) in id order.

    The step before training batching: deterministic (no RNG), stable
    under re-runs, and SQL-expressible, so the packing manifest is
    oracle-checkable. A global ordering means a single-partition window —
    fine for the contract query; at 100 TB pass ``shard_col`` (e.g.
    ``pmod(hash(id), K)``) to pack within shards: each shard windows
    independently in parallel and bins are (shard, bin) pairs.
    """
    from pyspark.sql import Window

    nt = token_count(F.col(text_col))
    w = (
        Window.partitionBy(shard_col).orderBy(id_col)
        if shard_col is not None
        else Window.orderBy(id_col)
    )
    cum_excl = F.sum("n_tokens").over(w) - F.col("n_tokens")
    cols = [F.col(id_col), nt.alias("n_tokens")]
    if shard_col is not None:
        cols.append(F.col(shard_col) if isinstance(shard_col, str) else shard_col)
    out = docs.select(*cols)
    return out.withColumn(
        "bin", F.floor(cum_excl / F.lit(float(budget_tokens))).cast("long")
    )


def greedy_bins(n_toks, pack_l: int, carry: tuple[int, int] = (0, 0)):
    """Greedy NO-SPLIT packing (the T5 recipe) of one shard's token
    counts in doc_id order: a doc joins the open bin unless it would
    overflow a non-empty one, then a fresh bin starts (an oversized doc
    gets a bin alone). ``carry`` is the (bin, fill) a previous slice of
    the shard left open. Returns the per-doc bins and the final
    (bin, fill). A sequential recurrence — run it per shard inside an
    applyInPandas pass."""
    b, fill = carry
    bins = []
    for t in n_toks:
        if fill > 0 and fill + t > pack_l:
            b += 1
            fill = 0
        bins.append(b)
        fill += t
    return bins, (b, fill)


def chunk_documents(
    docs: DataFrame,
    window: int = 32,
    stride: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token-window chunks (RAG / training
    sequence prep): one output row per (doc, chunk) with a 0-based
    ``chunk_idx``, the chunk text, and its token count.

    Chunk starts are 1, 1+stride, 1+2·stride … ≤ n_tokens, each chunk
    ``window`` tokens (the final chunks are shorter). stride < window ⇒
    overlapping context windows; stride = window ⇒ a partition.

    Pure narrow transformation — no shuffle at any scale; output rows ≈
    n_tokens/stride per doc. The token array is bound as a lambda VALUE
    (single-element-array wrapper) so the split runs once per document,
    not once per chunk (the Catalyst projection-collapse trap —
    operators/dedup.py minhash_signature has the same shape).
    """
    per_doc = F.flatten(
        F.transform(
            F.array(tokens(F.col(text_col))),
            lambda tk: F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size(tk), F.lit(1)), F.lit(stride)
                ),
                lambda i: F.struct(
                    F.array_join(F.slice(tk, i, window), " ").alias("chunk_text"),
                    F.size(F.slice(tk, i, window)).cast("long").alias("n_tokens"),
                ),
            ),
        )
    )
    return docs.select(
        F.col(id_col), F.posexplode(per_doc).alias("chunk_idx", "c")
    ).select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "c.chunk_text",
        "c.n_tokens",
    )


def unigram_logprob(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean unigram negative log-likelihood — the classic
    cheap perplexity proxy for corpus quality scoring (high = rare/garbled
    vocabulary, low = common fluent tokens).

    Two aggregation passes over the exploded tokens:

      1. corpus unigram counts (groupBy token — map-side partial agg means
         the shuffle carries one row per distinct token per task);
      2. re-join tokens→counts and average −ln(count/total) per doc.

    The frequency table is vocabulary-sized (≪ corpus at any scale:
    ~millions of rows at 100 TB), so it is explicitly broadcast — the
    scoring join never shuffles the corpus. ``total`` comes from summing
    the (tiny) frequency table, not a second corpus scan.
    """
    # deliberately NOT persisted: the exploded corpus is ≥ the corpus
    # itself, so caching it at 100 TB costs more than the narrow re-scan
    # the second pass pays
    tok = fan_out(docs.select(id_col, text_col)).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    freqs = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    return unigram_logprob_score(tok, freqs, id_col=id_col)


def unigram_logprob_score(
    tok: DataFrame, freqs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The SCORING half of :func:`unigram_logprob` — shared by the inline
    key and the artifact-serve twin (q_logprob_apply_artifact) so the two
    paths cannot drift. ``freqs`` is the (tok, c) unigram table, inline or
    loaded from the tokenizer store; ``total`` derives by summing it (one
    agg over the vocabulary-sized table, never a corpus scan), so a
    stored artifact is self-contained — the DSIR integer-stats rule."""
    total = freqs.agg(F.sum("c")).collect()[0][0]
    return (
        tok.join(F.broadcast(freqs), "tok")
        .groupBy(id_col)
        .agg(
            # decimal-summed order-free mean (the fixed-point reduction
            # discipline): a double AVG's summation order differs across
            # engines and can flip the 4dp hash on a rounding boundary
            F.round(
                -(
                    F.sum(
                        F.log(F.col("c") / F.lit(float(total))).cast(
                            "decimal(38,18)"
                        )
                    ).cast("double")
                    / F.count(F.lit(1))
                ),
                4,
            ).alias("nll"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
    )
