"""Deduplication operators for LLM training-data pipelines (SURVEY §2.3 N★).

Four families, each with an exact (oracle-checkable) path and a scale path:

  exact         — content-hash groupBy; one shuffle on the hash, map-side
                  partial agg. At 100 TB: shuffle carries (hash, doc_id)
                  only, never the text.
  ngram Jaccard — exact pairwise similarity via token/shingle-set
                  intersection. Quadratic within candidate sets — the
                  correctness baseline for the scalable variants.
  MinHash + LSH — signature → bands → bucket join → exact verify of
                  candidates. Linear-ish: the only join is on (band,
                  bucket-hash), candidates are verified with JVM
                  array_intersect. All hashing is xxhash64 (JVM, codegen).
  SimHash       — 64-bit sign-sum fingerprint; pigeonhole bucketing on
                  16-bit chunks finds all pairs within hamming ≤ 3;
                  verify via bit_count(xor).

No Python UDFs anywhere — every step is built-in expressions, so the hot
path stays in whole-stage codegen.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mongo_to_parquet_spark.functions.textfns import shingles, tokens
from mongo_to_parquet_spark.operators.parallel import fan_out
from mongo_to_parquet_spark.operators.scope import scope


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------
def exact_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct text: sha256, surviving (min) id, copy count."""
    return (
        docs.groupBy(F.sha2(F.col(text_col), 256).alias("doc_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly the min-id row of each duplicate group (deterministic,
    unlike dropDuplicates which keeps an arbitrary row)."""
    keep = exact_groups(docs, text_col, id_col).select(F.col("keep_id").alias(id_col))
    return docs.join(keep, on=id_col, how="left_semi")


# --------------------------------------------------------------------------
# exact n-gram Jaccard (correctness baseline for fuzzy dedup)
# --------------------------------------------------------------------------
#: widest exact-Jaccard bitset: 8 × 64-bit mask words. Beyond this the
#: broadcast pair loop's per-pair popcount cost stops paying for the
#: shuffles it avoids — route prefix instead.
_BITSET_MAX_VOCAB = 512


def jaccard_strategy(
    n_docs: int,
    vocab_fits_bitset: bool,
    bitmask_max_docs: int = 200_000,
    explode_max_docs: int = 200_000,
    candidate_pairs: int | None = None,
    explode_max_pairs: int = 50_000_000,
) -> str:
    """Physical-strategy router for exact Jaccard (all paths exact):

    - ``"bitset"``: vocabulary fits the mask (≤ _BITSET_MAX_VOCAB = 512
      shingles, i.e. ≤ 8 int64 words; one scalar long when ≤ 64) AND the
      corpus is broadcastable.
    - ``"explode"``: small corpus AND bounded join volume — the all-token
      self-join materializes exactly ``candidate_pairs`` = Σ_t n_t² rows,
      so doc count alone is NOT a safe criterion: the round-8 ×10
      composed-suite probe caught a 50k-doc corpus with per-replica
      boilerplate tokens where docs ≤ 200k admitted a ~4-billion-row
      join (9+ min on 32 cores) that the prefix path handles in seconds.
      When the caller provides the Σ n_t² census (one linear aggregation
      — cheap insurance against a quadratic mistake), the explode path
      also requires it ≤ ``explode_max_pairs``.
    - ``"prefix"``: otherwise — prefix-filtered candidate join
      (AllPairs/PPJoin): only each doc's ``sz − ⌈t·sz⌉ + 1`` globally
      RAREST shingles participate in the pairing join, so hot boilerplate
      shingles (the explode-join's Σ n_t² quadratic hazard) never join;
      candidates are then exact-verified. Same exact result, 100 TB-safe.
    """
    if vocab_fits_bitset and n_docs <= bitmask_max_docs:
        return "bitset"
    if n_docs <= explode_max_docs and (
        candidate_pairs is None or candidate_pairs <= explode_max_pairs
    ):
        return "explode"
    return "prefix"


def jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 1,
    bitmask_max_vocab: int = 512,
    bitmask_max_docs: int = 200_000,
    explode_max_docs: int = 200_000,
    strategy: str | None = None,
) -> DataFrame:
    """All (id1 < id2) pairs with shingle-set Jaccard ≥ threshold.

    Adaptive physical strategy (same exact result on every path; routing
    in :func:`jaccard_strategy`, overridable via ``strategy=``):

      - **bitset path** when the shingle vocabulary fits ``bitmask_max_vocab``
        (≤ 512 = 8 words) and the corpus is small enough to broadcast:
        dictionary-encode shingles to bit positions, each doc becomes one
        int64 mask (vocab ≤ 64) or an array of ⌈V/64⌉ longs, Jaccard =
        Σ bit_count(a&b) / Σ bit_count(a|b) over a broadcast nested-loop
        join. On dense low-vocab data this is ~20× the explode-join (the
        token join materializes Σ_t n_t² rows; popcounts don't) — the
        round-8 ×10 probe corpus (50k docs, 400-token vocab) is exactly
        the wide-mask case.
      - **explode-join path** for small corpora: explode distinct shingles,
        self-join on shingle to count intersections, join per-doc sizes,
        filter. Hot shingles make this quadratic — hence:
      - **prefix-filter path** beyond ``explode_max_docs``: join only on
        each doc's prefix of globally-rarest shingles (guaranteed to share
        one for any pair at Jaccard ≥ t), then exact-verify candidates.
        Keeps the exact API 100 TB-safe; :func:`minhash_pairs` remains the
        approximate/recall-tunable alternative.

    Strategy probes are deliberately cheap: the corpus size comes from the
    Parquet footer (``docs.count()`` is metadata-only on a scan); a corpus
    beyond every small-route cap routes to prefix with NO probe job at
    all (the 100 TB behavior); otherwise ONE shingle-frequency aggregation
    yields the vocabulary size, the Σ n_t² join volume that gates the
    explode path (one linear aggregation vs a potentially quadratic join:
    cheap insurance), and — from its vocabulary-sized cache, when it fits
    — the bitset bit dictionary, so the bitset path never re-shuffles the
    corpus to assign bits. (Round-12: this replaced a capped-distinct
    vocabulary collect + a separate census job, each of which re-shingled
    the corpus — ~1.9s of the ~4.8s q_dedup_clusters invocation.)
    """
    sh = shingles(F.col(text_col), ngram) if ngram > 1 else tokens(F.col(text_col))
    # fan_out BEFORE the shingle expression: a one-file corpus otherwise
    # shingles+hashes on a single task (operators/parallel.py)
    base = fan_out(docs.select(id_col, text_col)).select(
        F.col(id_col).alias("doc"), F.array_distinct(sh).alias("sh")
    )
    vocab_rows = None
    if strategy is None:
        # hard cap: 8 mask words (beyond that the quadratic pair loop's
        # per-pair popcount cost stops paying for the shuffle it saves)
        cap = min(bitmask_max_vocab, _BITSET_MAX_VOCAB)
        n_docs = docs.count()  # parquet-footer metadata, no scan
        fits = False
        cand = None
        if n_docs <= max(bitmask_max_docs, explode_max_docs):
            # ONE probe job replaces the old pair (capped-distinct vocab
            # collect + Σ n_t² census — measured ~1.0s + ~0.9s each at
            # sf0.1, both re-shingling the corpus): the shingle-frequency
            # relation yields the vocabulary size, the explode path's
            # exact join volume Σ n_t² (doc count alone let a
            # hot-boilerplate corpus through to a ~4e9-row join — the
            # round-8 ×10 probe finding), and, cached, the bitset
            # dictionary when it fits (a second action over the
            # vocabulary-sized cache, not the corpus). Corpora beyond
            # every small-route cap take zero probe jobs and route
            # straight to prefix — the 100 TB behavior.
            with scope(docs.sparkSession) as sc:
                freq = sc.persist(
                    base.select(F.explode("sh").alias("s"))
                    .groupBy("s")
                    .agg(F.count(F.lit(1)).alias("n"))
                )
                st = freq.agg(
                    F.sum(F.col("n") * F.col("n")).alias("c"),
                    F.count(F.lit(1)).alias("v"),
                ).collect()[0]
                cand = st["c"]
                # empty vocab (empty/all-null corpus) is not bitset-able:
                # create_map() with zero entries has type map<void,void>,
                # cannot be keyed by string
                fits = 0 < st["v"] <= cap
                if fits and n_docs <= bitmask_max_docs:
                    vocab_rows = freq.select("s").collect()
        strategy = jaccard_strategy(
            n_docs, fits, bitmask_max_docs, explode_max_docs, cand
        )
    if strategy == "bitset":
        cap = min(bitmask_max_vocab, _BITSET_MAX_VOCAB)
        if vocab_rows is None:
            vocab_rows = (
                base.select(F.explode("sh").alias("s")).distinct().limit(cap + 1).collect()
            )
        if len(vocab_rows) > cap:
            # a caller-forced bitset with a vocabulary past the cap would
            # build a TRUNCATED literal dictionary: shingles missing from
            # the map get a NULL bit index, the wide-mask zip_with falls
            # through to `otherwise(m)` and silently drops the bit —
            # wrong similarities, not an error. Refuse instead.
            raise ValueError(
                f"bitset strategy requires vocabulary <= {cap} distinct "
                f"shingles; probe found more. Use strategy='prefix' (or "
                f"auto-routing) for this corpus."
            )
        return _jaccard_pairs_bitset(base, sorted(r["s"] for r in vocab_rows), threshold)
    if strategy == "prefix":
        return _jaccard_pairs_prefix(base, threshold)
    doc_sh = base.select("doc", F.explode("sh").alias("s"))
    sizes = doc_sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    # shuffle both (identical) sides of the self-join so ReuseExchange
    # computes the shingle explosion once — same rationale as minhash's
    # candidate join; a broadcast build would shingle the corpus twice
    doc_sh = doc_sh.hint("shuffle_hash")
    a, b = doc_sh.alias("a"), doc_sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc1"), F.col("b.doc").alias("doc2"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz1 = sizes.select(F.col("doc").alias("doc1"), F.col("sz").alias("sz1"))
    sz2 = sizes.select(F.col("doc").alias("doc2"), F.col("sz").alias("sz2"))
    return (
        inter.join(sz1, "doc1")
        .join(sz2, "doc2")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz1") + F.col("sz2") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", F.round("jaccard", 4).alias("jaccard"))
    )


def _jaccard_pairs_prefix(base: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard via prefix filtering (AllPairs/PPJoin family).

    Theorem: order the global shingle universe by (frequency, shingle); if
    ``jaccard(A, B) ≥ t`` then ``|A∩B| ≥ ⌈t·|A|⌉``, so A and B must share
    at least one shingle among the first ``|A| − ⌈t·|A|⌉ + 1`` of each
    doc's shingles under that order. Joining ONLY on those prefix tokens
    — by construction the globally RAREST ones — produces a complete
    candidate set while the hot shingles that make the naive token join
    quadratic (Σ_t n_t²) never enter the pairing join. A length filter
    (``min ≥ t·max``) prunes further; candidates are then exact-verified
    against the full shingle sets, so the result is identical to the
    explode-join path.

    Shuffles at scale: token-frequency agg, per-doc rank window, the
    prefix self-join, and the candidate-bounded verify joins — all keyed,
    none quadratic in corpus size.

    The exploded (doc, shingle) relation feeds FIVE consumers (sizes,
    freq, ranked, and both verify sides); left lazy, each consumer
    replays the scan + shingling + md5 subtree — 16 scan copies in the
    composed plan, and the work above the fan_out exchange is not
    exchange-reusable. ``localCheckpoint`` materializes it once
    (round-12 A/B at sf0.1: median 5.08 → 3.34s; persist variants
    measured worse — the kcore edge discipline). Same tradeoff as the
    langid featurize pass: non-reliable checkpoint means an executor
    loss fails the job instead of recomputing lineage, and the blocks
    (corpus-token-sized, MEMORY_AND_DISK) live until the DataFrame is
    GC'd — acceptable for a relation that five corpus-sized consumers
    would otherwise each recompute (SCALE.md).
    """
    from pyspark.sql import Window

    doc_sh = base.select("doc", F.explode("sh").alias("s")).localCheckpoint()
    sizes = doc_sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    freq = doc_sh.groupBy("s").agg(F.count(F.lit(1)).alias("tf"))
    ranked = (
        doc_sh.join(freq, "s")
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("doc").orderBy("tf", "s")),
        )
        .join(sizes, "doc")
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).select("doc", "s", "sz", "rn")
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin positional filter: jaccard ≥ t ⇔ |A∩B| ≥ α = ⌈t/(1+t)·(|A|+|B|)⌉,
    # and a match at prefix positions (rn1, rn2) bounds the overlap above by
    # 1 + min(|A|−rn1, |B|−rn2) — pairs whose bound can't reach α are pruned
    # BEFORE the verify joins (measured: 310k → 125k candidates, −36% total
    # runtime on the sf0.1 trigram corpus; result provably unchanged)
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.sz") + F.col("b.sz"))
    )
    overlap_ub = F.lit(1) + F.least(
        F.col("a.sz") - F.col("a.rn"), F.col("b.sz") - F.col("b.rn")
    )
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc") < F.col("b.doc"))
            # length filter: jaccard ≥ t ⇒ min(|A|,|B|) ≥ t·max(|A|,|B|)
            & (
                F.least("a.sz", "b.sz").cast("double")
                >= F.lit(threshold) * F.greatest("a.sz", "b.sz").cast("double")
            )
            & (overlap_ub >= alpha),
        )
        .select(
            F.col("a.doc").alias("doc1"),
            F.col("b.doc").alias("doc2"),
            F.col("a.sz").alias("sz1"),
            F.col("b.sz").alias("sz2"),
        )
        .distinct()
    )
    # exact verify, candidate-bounded: intersection size via two keyed joins
    t1 = doc_sh.select(F.col("doc").alias("doc1"), F.col("s").alias("s1"))
    t2 = doc_sh.select(F.col("doc").alias("__d2"), F.col("s").alias("s2"))
    inter = (
        cand.join(t1, "doc1")
        .join(t2, (F.col("doc2") == F.col("__d2")) & (F.col("s1") == F.col("s2")))
        .groupBy("doc1", "doc2", "sz1", "sz2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz1") + F.col("sz2") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", F.round("jaccard", 4).alias("jaccard"))
    )


def _jaccard_pairs_bitset(base: DataFrame, vocab: list, threshold: float) -> DataFrame:
    """Exact Jaccard via bitset masks (see jaccard_pairs docstring).

    ``vocab`` is the full (≤ _BITSET_MAX_VOCAB) shingle dictionary,
    already collected by the caller's probe. Encoding it as a literal map
    makes the mask a pure scan-side expression — the whole plan is two
    scans and the pair join, zero shuffles. The stream side is
    repartitioned so the quadratic pair loop parallelizes even when the
    source is one small Parquet file (docs with an empty shingle set get
    mask 0; their 0/0 Jaccard is NULL and never passes the threshold,
    matching the explode-join path which drops them before pairing).

    ≤ 64 shingles: one scalar long (a single popcount per pair term).
    Beyond: an array of ⌈V/64⌉ longs — per shingle, only its word is
    OR-updated; per pair, Jaccard = Σ_j bit_count(a_j & b_j) /
    Σ_j bit_count(a_j | b_j) via zip_with folds. The wide form is what
    keeps dense low-vocab corpora (boilerplate-heavy crawls) off the
    Σ n_t² explode hazard when the vocabulary outgrows one word — the
    round-8 ×10 probe corpus (50k docs, ~400 tokens) runs here.
    """
    bitmap = F.create_map(
        *itertools.chain.from_iterable(
            (F.lit(s), F.lit(i)) for i, s in enumerate(vocab)
        )
    )
    one = F.lit(1).cast("long")
    spark = base.sparkSession
    if len(vocab) <= 64:
        mask = F.aggregate(
            F.col("sh"),
            F.lit(0).cast("long"),
            lambda acc, s: acc.bitwiseOR(F.call_function("shiftleft", one, bitmap[s])),
        )
        inter = F.bit_count(F.col("m1").bitwiseAND(F.col("m2"))).cast("double")
        union = F.bit_count(F.col("m1").bitwiseOR(F.col("m2"))).cast("double")
    else:
        n_words = (len(vocab) + 63) // 64
        zeros = F.array(*[F.lit(0).cast("long") for _ in range(n_words)])
        words = F.sequence(F.lit(0), F.lit(n_words - 1))

        def set_bit(acc, s):
            idx = bitmap[s]
            return F.zip_with(
                acc,
                words,
                lambda m, j: F.when(
                    j == (idx / 64).cast("int"),
                    m.bitwiseOR(F.call_function("shiftleft", one, idx % 64)),
                ).otherwise(m),
            )

        mask = F.aggregate(F.col("sh"), zeros, set_bit)

        # the popcount sum is UNROLLED over the fixed word count, never a
        # zip_with/aggregate fold: array HOFs evaluate interpreted
        # (lesson 25) and this expression runs once per CANDIDATE PAIR —
        # the folded form measured no faster than the prefix path at the
        # ×10 probe (231s); the unrolled element_at chain stays in
        # whole-stage codegen
        def popsum(bitop):
            terms = [
                F.bit_count(
                    bitop(
                        F.element_at(F.col("m1"), j + 1),
                        F.element_at(F.col("m2"), j + 1),
                    )
                )
                for j in range(n_words)
            ]
            out = terms[0]
            for t in terms[1:]:
                out = out + t
            return out.cast("double")

        inter = popsum(lambda x, y: x.bitwiseAND(y))
        union = popsum(lambda x, y: x.bitwiseOR(y))
    masks = base.select("doc", mask.alias("mask"))
    a = masks.select(F.col("doc").alias("doc1"), F.col("mask").alias("m1")).repartition(
        spark.sparkContext.defaultParallelism
    )
    b = masks.select(F.col("doc").alias("doc2"), F.col("mask").alias("m2"))
    return (
        a.join(F.broadcast(b), F.col("doc1") < F.col("doc2"))
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", F.round("jaccard", 4).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# MinHash + LSH (scale path for fuzzy dedup)
# --------------------------------------------------------------------------
#: mask hashes to 32 bits so the double-hash multiply-add below cannot
#: overflow a long under ANSI arithmetic (64 seeds × 2^32 < 2^39)
_MASK32 = (1 << 32) - 1
_MAX_LONG = (1 << 63) - 1


def minhash_signature(shingle_arr, num_hashes: int):
    """k minhashes of a shingle array, as one pure expression.

    Two deliberate shapes, both load-bearing for performance:

    - **single reference to the shingle array.** The naive ``sig[i] =
      array_min(transform(sh, hash_i))`` references ``sh`` once per seed;
      Catalyst's projection collapse then inlines the (expensive) shingle
      expression k times — measured 3.4× slower at k=64. Here ``sh`` is
      referenced once: map each shingle to its hash pair, expand to a
      [n_shingles][k] matrix, and fold with an element-wise min.
    - **double hashing (Kirsch–Mitzenmacher).** hash_i(s) = h1(s) +
      i·h2(s) needs two string hashes per shingle instead of k — a
      further ~5× at k=64. Hashes are masked to 32 bits so the
      multiply-add stays within long range under ANSI mode; per-seed
      collision odds (~2⁻³²) are far below minhash's own estimation
      error.
    """
    seeds = F.sequence(F.lit(0).cast("long"), F.lit(num_hashes - 1).cast("long"))
    hash_pairs = F.transform(
        shingle_arr,
        lambda s: F.array(
            F.xxhash64(s).bitwiseAND(F.lit(_MASK32)),
            F.xxhash64(s, F.lit(1)).bitwiseAND(F.lit(_MASK32)),
        ),
    )
    hash_matrix = F.transform(
        hash_pairs, lambda p: F.transform(seeds, lambda i: p[0] + i * p[1])
    )
    init = F.array_repeat(F.lit(_MAX_LONG).cast("long"), num_hashes)
    return F.aggregate(
        hash_matrix, init, lambda acc, hs: F.zip_with(acc, hs, lambda a, b: F.least(a, b))
    )


def minhash_pairs(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 1,
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate pairs via banded MinHash LSH, then EXACT Jaccard verify.

    b=16, r=4 → s-curve threshold (1/b)^(1/r) ≈ 0.5; near-certain recall at
    Jaccard ≥ 0.8. The bucket join shuffles only (band, hash64, id) — at
    100 TB the texts never move; verification re-joins shingle sets for the
    (small) candidate pair set only.

    ``max_bucket_size`` caps the quadratic hazard (SCALE.md): a banded
    bucket larger than the cap — in practice a cluster of identical or
    boilerplate documents — is excluded from the all-pairs candidate
    join; its members are instead paired through their FULL signature
    (identical signature ⇒ near-certain duplicate, then exact-verified
    like every other candidate). Near-but-not-identical pairs hiding in
    an oversized bucket are the accepted recall loss; the join cost drops
    from |bucket|² to |identical-groups|.
    """
    k = bands * rows_per_band
    sh = shingles(F.col(text_col), ngram) if ngram > 1 else tokens(F.col(text_col))
    # fan_out BEFORE shingling/signatures — the whole pre-LSH map stage
    # otherwise runs at the scan's (byte-sized) parallelism
    base = fan_out(docs.select(id_col, text_col)).select(
        F.col(id_col).alias("doc"), F.array_distinct(sh).alias("sh")
    )
    sig = base.withColumn("sig", minhash_signature(F.col("sh"), k))
    # bind the signature as a lambda VALUE (single-element array wrapper):
    # referencing the sig column directly inside the per-band lambda would
    # re-evaluate the whole signature fold once per band after Catalyst
    # inlines the projection — the wrapper evaluates it exactly once per row
    banded = sig.select(
        "doc",
        F.explode(
            F.flatten(
                F.transform(
                    F.array(F.col("sig")),
                    lambda s: F.transform(
                        F.sequence(F.lit(0), F.lit(bands - 1)),
                        lambda j: F.struct(
                            j.alias("band"),
                            F.xxhash64(
                                F.slice(s, j * rows_per_band + 1, rows_per_band)
                            ).alias("bucket"),
                        ),
                    ),
                )
            )
        ).alias("bb"),
    ).select("doc", "bb.band", "bb.bucket")
    # shuffle-hash hint: the two sides are the SAME banded subtree, so a
    # shuffle join lets ReuseExchange compute the signatures once and read
    # the exchange twice — the broadcast plan Catalyst picks at test scale
    # builds both branches independently (2× the signature work) and could
    # not exist at corpus scale anyway. Measured 1.8× faster at sf0.1.
    banded = banded.hint("shuffle_hash")
    if max_bucket_size is not None:
        from pyspark.sql import Window

        counted = banded.withColumn(
            "__n", F.count(F.lit(1)).over(Window.partitionBy("band", "bucket"))
        )
        banded_ok = counted.filter(F.col("__n") <= max_bucket_size).drop("__n")
        # oversized buckets: pair members via identical full signature
        # (xxhash64 of the whole sig vector) instead of all-pairs
        over_docs = (
            counted.filter(F.col("__n") > max_bucket_size).select("doc").distinct()
        )
        over_sigs = sig.join(over_docs, "doc").select(
            "doc", F.xxhash64(F.col("sig").cast("string")).alias("fullsig")
        )
        exact_cand = (
            over_sigs.alias("x")
            .join(
                over_sigs.alias("y"),
                (F.col("x.fullsig") == F.col("y.fullsig"))
                & (F.col("x.doc") < F.col("y.doc")),
            )
            .select(F.col("x.doc").alias("doc1"), F.col("y.doc").alias("doc2"))
        )
        banded = banded_ok.hint("shuffle_hash")
    else:
        exact_cand = None
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(F.col("x.doc").alias("doc1"), F.col("y.doc").alias("doc2"))
        .distinct()
    )
    if exact_cand is not None:
        cand = cand.unionByName(exact_cand).distinct()
    s1 = base.select(F.col("doc").alias("doc1"), F.col("sh").alias("sh1"))
    s2 = base.select(F.col("doc").alias("doc2"), F.col("sh").alias("sh2"))
    return (
        cand.join(s1, "doc1")
        .join(s2, "doc2")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh1", "sh2")).cast("double")
            / F.size(F.array_union("sh1", "sh2")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", F.round("jaccard", 4).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# Incremental MinHash (delta-vs-corpus dedup against a persisted index)
# --------------------------------------------------------------------------
_IMH_P = 4294967311  # prime > 2^32 (Kirsch–Mitzenmacher family, md5-derived)


def _md5_long(prefix: str, col) -> F.Column:
    """The first 48 bits of md5(prefix || col) as a BIGINT — the oracle
    spells it ``CAST(concat('0x', substr(md5(concat(prefix, s)), 1, 12))
    AS BIGINT)``."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(prefix), col)), 1, 12), 16, 10)
        .cast("bigint")
    )


def minhash_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    ngram: int = 3,
) -> DataFrame:
    """Banded MinHash index rows ``(doc, band, sigstr)`` — the persistable
    side of incremental dedup.

    ``q_dedup_minhash_md5`` and ``q_lsh_tuning`` (queries/llm.py) build
    their bands with this function, so an index built here is
    probe-compatible with that pipeline by construction and every stage
    stays hash-checkable by the DuckDB oracle. The output is tiny
    relative to the corpus — ``bands`` short rows per document, no text,
    no shingle sets — which is exactly what makes it worth persisting:
    tomorrow's delta probes these rows instead of re-signaturing the
    corpus.

    Scale: one shuffle to assemble per-(doc, band) signature strings;
    partial-combined min() per hash index before it. Parquet-persisted
    and partitioned by ``band`` the probe join prunes to matching bands.
    """
    rows = num_hashes // bands
    sh = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(shingles(F.col(text_col), ngram))).alias("s"),
    )
    hs = sh.select(
        "doc",
        _md5_long("mh1:", F.col("s")).alias("h1"),
        _md5_long("mh2:", F.col("s")).alias("h2"),
    )
    idx = F.array(*[F.lit(i) for i in range(num_hashes)])
    sig = (
        hs.select("doc", "h1", "h2", F.explode(idx).alias("i"))
        .groupBy("doc", "i")
        .agg(F.min((F.col("h1") + F.col("i") * F.col("h2")) % _IMH_P).alias("mh"))
    )
    return sig.groupBy("doc", F.expr(f"i div {rows}").alias("band")).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "mh"))),
                lambda x: x["mh"].cast("string"),
            ),
            "-",
        ).alias("sigstr")
    )


def minhash_incremental_pairs(
    delta: DataFrame,
    base_index: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    ngram: int = 3,
) -> DataFrame:
    """Near-dup pairs INVOLVING a new-document delta, against a persisted
    banded index — the daily-crawl shape: dedup today's documents against
    the historical corpus without re-minhashing the corpus.

    Candidates come from two joins, neither of which touches corpus text:
    delta bands probe ``base_index`` buckets (new×base), and delta bands
    self-join (new×new). Exact-Jaccard verification then re-shingles ONLY
    the documents that appear in some candidate pair — a semi join prunes
    ``corpus`` before any shingling, so base-side text work is
    candidate-sized, not corpus-sized.

    Restricted-output equivalence: the candidate set equals the full
    corpus-wide ``q_dedup_minhash_md5`` pipeline's candidates restricted
    to pairs with ≥1 delta member (base×base pairs are the only ones a
    band bucket can produce that neither join here sees), so the verified
    output is exactly the full pipeline's output under that restriction —
    which is what the oracle checks.

    Scale (the whole point): per-day cost is O(|delta| signatures) +
    O(bucket-join on index rows) + O(candidate verify). The 100 TB corpus
    contributes only its (tiny) index rows and the candidate docs' texts.
    Appending today's ``minhash_index(delta)`` rows keeps the index
    current — signatures are per-document, so the index is append-only.
    """
    di = minhash_index(delta, text_col, id_col, num_hashes, bands, ngram)
    nb = (
        di.alias("d")
        .join(base_index.alias("b"), ["band", "sigstr"])
        .select(
            F.least("d.doc", "b.doc").alias("id1"),
            F.greatest("d.doc", "b.doc").alias("id2"),
        )
    )
    nn = (
        di.alias("x")
        .join(di.alias("y"), ["band", "sigstr"])
        .filter(F.col("x.doc") < F.col("y.doc"))
        .select(F.col("x.doc").alias("id1"), F.col("y.doc").alias("id2"))
    )
    cand = nb.unionByName(nn).distinct()
    cd = (
        cand.select(F.col("id1").alias(id_col))
        .union(cand.select("id2"))
        .distinct()
    )
    sh = corpus.join(cd, [id_col], "semi").select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(shingles(F.col(text_col), ngram))).alias("s"),
    )
    return jaccard_verify(cand, sh, threshold)


def jaccard_verify(cand: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verify of candidate pairs ``(id1, id2)`` over the
    distinct shingle rows ``sh`` ``(doc, s)``: ``(id1, id2, jaccard)``
    for the pairs at or above ``threshold``, jaccard rounded to 4
    places. The intersection is an equi-join on the shingle, so only
    candidate documents' shingles move.
    """
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    sa = sh.select(F.col("doc").alias("id1"), "s")
    sb = sh.select(F.col("doc").alias("id2"), F.col("s").alias("s2"))
    inter = (
        cand.join(sa, "id1")
        .join(sb, "id2")
        .filter(F.col("s") == F.col("s2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    s1 = sizes.select(F.col("doc").alias("id1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc").alias("id2"), F.col("sz").alias("sz2"))
    jac = F.col("n_inter").cast("double") / (
        F.col("sz1") + F.col("sz2") - F.col("n_inter")
    )
    return (
        inter.join(s1, "id1")
        .join(s2, "id2")
        .filter(jac >= threshold)
        .select("id1", "id2", F.round(jac, 4).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------
def simhash(text_col) -> F.Column:
    """64-bit SimHash of the whitespace tokens, as a signed long.

    bit i = sign of Σ_tokens (±1 depending on bit i of xxhash64(token)).
    Composition of aggregate/transform — no UDF. Structured so the token
    array and each token's hash are evaluated exactly once (the naive
    64-separate-vote-aggregates form re-hashes every token per bit —
    same projection-collapse trap as minhash_signature, ~10× slower):

      1. one xxhash64 per token,
      2. fold to a 64-long vote vector (zip_with add of ±1 bit vectors),
      3. zip the votes with a powers-of-two literal and OR-fold to bits.
    """
    toks = tokens(text_col)
    seeds = F.sequence(F.lit(0), F.lit(63))
    plus_minus = F.transform(
        F.transform(toks, lambda t: F.xxhash64(t)),
        # h is a lambda VALUE here: hashed once, read 64 times
        lambda h: F.transform(
            seeds,
            lambda i: F.when(
                F.call_function("shiftright", h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            )
            .otherwise(F.lit(-1))
            .cast("long"),
        ),
    )
    votes = F.aggregate(
        plus_minus,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, bv: F.zip_with(acc, bv, lambda a, b: a + b),
    )
    powers = F.array(
        *[F.lit(1 << i if i < 63 else -(1 << 63)).cast("long") for i in range(64)]
    )
    bit_or = F.zip_with(
        votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(
        bit_or, F.lit(0).cast("long"), lambda acc, b: acc.bitwiseOR(b)
    )


def simhash_table(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc, sig): the :func:`simhash` fingerprint, computed the fast way.

    Identical bits to the expression form, different physical shape:
    explode tokens → ONE xxhash64 per token → hash-aggregate 64 bit-count
    sums per doc → assemble the majority bits in a single projection.
    Aggregates are whole-stage-codegen'd with map-side partial combine,
    while nested higher-order functions are interpreted per element
    (CodegenFallback) — measured ~4× at sf0.1. The shuffle carries
    (doc, 64 longs) partials, independent of document length.
    """
    # hash hoisted into its own projection: referenced from 64 aggregate
    # expressions it would be re-evaluated per aggregate, not once per row
    tok = (
        fan_out(docs.select(id_col, text_col))
        .select(F.col(id_col).alias("doc"), F.explode(tokens(F.col(text_col))).alias("tok"))
        .select("doc", F.xxhash64("tok").alias("h"))
    )
    votes = tok.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))).alias(f"b{i}")
            for i in range(64)
        ],
    )
    # bit i set ⇔ ones > n/2  (⇔ the ±1 vote sum 2·ones − n is > 0)
    sig = F.lit(0).cast("long")
    for i in range(64):
        power = F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")
        sig = sig.bitwiseOR(
            F.when(F.col(f"b{i}") * 2 > F.col("n"), power).otherwise(
                F.lit(0).cast("long")
            )
        )
    return votes.select("doc", sig.alias("sig"))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All (id1 < id2) pairs within hamming distance ≤ max_hamming (≤3).

    Pigeonhole: split the 64-bit fingerprint into 4 16-bit chunks; any pair
    with hamming ≤ 3 shares at least one chunk exactly → bucket-join on
    (chunk_idx, chunk_value), verify with bit_count(xor). Shuffles only
    (chunk, id, sig) — scales linearly in corpus size for random data.
    """
    sigs = simhash_table(docs, text_col, id_col)
    chunks = sigs.select(
        "doc",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("ci"),
                        F.shiftright(F.col("sig"), j * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("cv"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("c"),
    ).select("doc", "sig", "c.ci", "c.cv")
    # same ReuseExchange rationale as the minhash candidate join: shuffle
    # both (identical) sides so the fingerprints are computed once
    chunks = chunks.hint("shuffle_hash")
    return (
        chunks.alias("x")
        .join(
            chunks.alias("y"),
            (F.col("x.ci") == F.col("y.ci"))
            & (F.col("x.cv") == F.col("y.cv"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(
            F.col("x.doc").alias("doc1"),
            F.col("y.doc").alias("doc2"),
            F.bit_count(F.col("x.sig").bitwiseXOR(F.col("y.sig"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc1",
    dst: str = "doc2",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve near-dup PAIRS into clusters: (node, comp) with comp = the
    minimum node id reachable through the pair graph.

    Pair mining (jaccard/minhash/simhash/embedding) yields edges; an actual
    dedup decision needs the transitive closure — A~B, B~C must collapse to
    ONE cluster even though (A, C) was never emitted. Min-label propagation:
    each round every node takes the min label among itself and its
    neighbours (join edges→labels on the neighbour end, union, groupBy-min
    — two shuffles per round), converging in O(component diameter) rounds.
    Near-dup clusters are shallow (dense blobs, not paths), so diameter is
    small; for adversarial long-chain graphs use
    :func:`connected_components_star` (same join+agg building blocks,
    O(log n) rounds — a 200-edge path this function cannot solve in 10
    rounds finishes there in 6; pinned in tests/test_operators.py).

    Physical iteration shape: the edge relation is computed ONCE,
    repartitioned by the propagation join key and PERSISTED — the cached
    InMemoryRelation reports hashpartitioning(b), so every round's
    propagate join shuffles only the node-sized label table (the edge
    side would otherwise re-exchange per round; localCheckpoint loses
    partitioning — same measurement as q_graph_pagerank). Each round's
    labels end in ``localCheckpoint`` — labels are tiny (two ids per
    node) and checkpointing truncates the otherwise exponentially growing
    iterative lineage; on a cluster prefer ``checkpoint()`` (and a
    bucketed-by-key edge layout) to survive executor loss.
    Convergence is detected from the label-sum invariant:
    propagation takes a min, so every label is non-increasing — the total
    is strictly decreasing until the fixpoint. Comparing per-round sums is
    one scan of the (checkpointed, node-count-sized) label table; the
    obvious old-vs-new join probe is a whole extra shuffle join per round.
    Sums are exact DECIMAL(38,0) so arbitrarily large id spaces can't
    overflow ANSI long arithmetic.
    """
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))

    def label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    # every round's labels is an eager localCheckpoint, so the returned
    # relation never reads the persisted edges: they die with the call
    with scope(pairs.sparkSession) as sc:
        edges = sc.persist(
            e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .distinct()
            .repartition("b")
        )
        labels = (
            edges.select(F.col("a").alias("node"))
            .distinct()
            .withColumn("comp", F.col("node"))
            .localCheckpoint()
        )
        prev_sum = label_sum(labels)
        for _ in range(max_iter):
            prop = edges.join(
                labels.select(F.col("node").alias("b"), "comp").hint("shuffle_hash"),
                "b",
            ).select(F.col("a").alias("node"), "comp")
            new_labels = (
                labels.union(prop).groupBy("node").agg(F.min("comp").alias("comp"))
            ).localCheckpoint()
            new_sum = label_sum(new_labels)
            labels = new_labels
            if new_sum == prev_sum:
                return labels
            prev_sum = new_sum
    raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")


def span_dedup(
    docs: DataFrame,
    span_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_key: bool = False,
) -> DataFrame:
    """Sub-document exact dedup: remove REPEATED fixed-width token spans
    corpus-wide, keeping each span's first occurrence (C4's duplicated-
    span removal / RefinedWeb's line dedup, on token windows).

    Whole-document dedup misses boilerplate: headers, license blocks and
    navigation chrome repeat across documents whose full texts are
    unique. Here every document is cut into non-overlapping
    ``span_tokens``-token windows; a span that appears anywhere earlier
    in the corpus (first occurrence = min (doc_id, idx)) is dropped and
    the document is reassembled from its surviving spans.

    Returns (doc_id, n_spans, n_dropped, cleaned_text).

    Scale: first-occurrence is a ``min(struct(doc_id, idx))`` groupBy —
    partial-combinable map-side, so a span repeated a million times
    arrives at the reducer as one row per map partition, NOT a million
    rows (no hot-key blowup in the aggregate). The join back on span is
    the skewed step for boilerplate-heavy corpora; AQE's skew-join
    splitting handles moderate cases. ``hash_key=True`` keys the
    first-occurrence aggregate and the join on ``sha256(span)`` instead
    of the span text — a fixed 32-byte shuffle key however wide the
    span, the same exactness convention as :func:`exact_groups`
    (collision odds 2⁻²⁵⁶; the oracle-checked query uses the plain-span
    form so DuckDB reproduces the join key). Reassembly is a
    per-document sort of its own ≤ L/span_tokens surviving spans —
    bounded by document length, never corpus-sized.
    """
    from mongo_to_parquet_spark.functions.textfns import tokens
    from mongo_to_parquet_spark.operators.parallel import fan_out

    base = fan_out(docs.select(id_col, text_col)).select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks")
    )
    n_spans = F.greatest(
        F.ceil(F.size("toks") / F.lit(span_tokens)).cast("int"), F.lit(1)
    )
    sp = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_spans - 1)).alias("idx"),
        "toks",
    ).select(
        "doc_id",
        "idx",
        F.array_join(
            F.slice("toks", F.col("idx") * span_tokens + 1, span_tokens), " "
        ).alias("span"),
    )
    # (doc_id, idx) packed into one DECIMAL(38,0): min over a struct is a
    # SortAggregate (non-codegen buffer, sorts each partition by span);
    # min over a decimal hash-aggregates with map-side combine — measured
    # ~15% on the full query at sf0.1, same keeper. idx < 10⁹ spans/doc
    # (8 · 10⁹ tokens) and doc_id < 10²⁹ keep the packing exact.
    pk = (
        F.col("doc_id").cast("decimal(28,0)") * F.lit(1_000_000_000)
        + F.col("idx")
    ).cast("decimal(38,0)")
    sp = sp.withColumn("pk", pk)
    key = "h" if hash_key else "span"
    if hash_key:
        sp = sp.withColumn("h", F.sha2(F.col("span"), 256))
    first = sp.groupBy(key).agg(F.min("pk").alias("kpk"))
    j = sp.join(first, key)
    kept = F.col("pk") == F.col("kpk")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum((~kept).cast("bigint")).alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(kept, F.struct("idx", "span")))
                ),
                lambda x: x["span"],
            ),
            " ",
        ).alias("cleaned_text"),
    )


def exact_substr_dedup(
    docs: DataFrame,
    min_tokens: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_key: bool = False,
) -> DataFrame:
    """Suffix-array-grade EXACT SUBSTRING dedup (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" ExactSubstr
    semantics): find every maximal token span of length ≥ ``min_tokens``
    that occurs more than once ANYWHERE in the corpus (any document, any
    offset), keep its first occurrence (global (doc_id, pos) order), cut
    all later occurrences, and keep the remainders of each document.

    Where :func:`span_dedup` cuts on a fixed non-overlapping grid (a
    duplicate missed by one token of misalignment survives),
    this is the alignment-free form real pretraining pipelines cite: a
    repeated region is detected at EVERY offset. The suffix-array
    observation that makes it distributable: a maximal repeated span of
    length ≥ L is exactly a maximal RUN of duplicated overlapping
    L-token windows (stride 1), so

      1. window every doc at stride 1 (n−L+1 windows of L tokens);
      2. first occurrence per window CONTENT = min (doc_id, pos) — a
         map-side-combinable min over the packed key, never a sort;
      3. every non-first occurrence marks its window start position;
      4. per doc, merge marked starts into maximal intervals
         [p, p+L−1] (run-length/gaps-and-islands: same island while
         p_next ≤ p_prev + L), and
      5. rebuild each doc from the uncovered token positions.

    Returns (doc_id, n_tokens, n_cut_spans, n_removed, cleaned_text).

    Scale: the corpus-sized shuffles are the window-content groupBy and
    the join back — both keyed by the window (``hash_key=True`` keys them
    on sha256(window) instead: a fixed 32-byte key, so shuffle bytes stay
    WINDOW-COUNT-bounded instead of L×corpus — the span_dedup
    convention; the declared query uses the plain form so DuckDB
    reproduces the key). The interval merge is a per-doc window over the
    doc's OWN duplicated positions (≤ its token count), and reassembly is
    an expression-only filter over the token array — no corpus-sized
    window, no driver state. Cited vs reference: the reference has no
    dedup at all (main.py:288-293 copies everything); this is engine
    surface.
    """
    base, win = _substr_windows(docs, int(min_tokens), text_col, id_col, hash_key)
    key = "h" if hash_key else "span"
    # prune EXPLICITLY before the two corpus-sized shuffles: only the
    # key, the packed first-occurrence key, and the cut coordinates may
    # ride them (don't leave it to the optimizer — the probe watches
    # shuffle bytes per round)
    lean = win.select("doc_id", "p", "pk", key)
    first = lean.groupBy(key).agg(F.min("pk").alias("kpk"))
    dup = (
        lean.join(first, key)
        .filter(F.col("pk") != F.col("kpk"))
        .select("doc_id", "p")
    )
    return _substr_cut(base, dup, int(min_tokens))


def _substr_windows(docs, L, text_col="text", id_col="doc_id", hash_key=False):
    """(base, win): the tokenized corpus and its stride-1 L-window stream
    with the packed (doc_id, pos) key — shared by the batch cutter, the
    persisted index builder, and the incremental path so the window
    definition cannot drift."""
    from mongo_to_parquet_spark.functions.textfns import tokens
    from mongo_to_parquet_spark.operators.parallel import fan_out

    base = fan_out(docs.select(id_col, text_col)).select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks")
    )
    win = (
        base.filter(F.size("toks") >= L)
        .select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), F.size("toks") - L)).alias("p"),
        )
        .select(
            "doc_id",
            F.col("p").cast("bigint").alias("p"),
            F.array_join(F.slice("toks", F.col("p") + 1, L), " ").alias("span"),
        )
    )
    # same exact packing as span_dedup: (doc_id, pos) into one decimal so
    # the first-occurrence keeper is a hash-aggregating MIN
    pk = (
        F.col("doc_id").cast("decimal(28,0)") * F.lit(1_000_000_000)
        + F.col("p")
    ).cast("decimal(38,0)")
    win = win.withColumn("pk", pk)
    if hash_key:
        # RAW 32-byte digest (unhex), not the 64-char hex string: at
        # L=20 the hex form is only ~2x smaller than the span itself and
        # the round-11 probe measured the "hashed" shuffle barely below
        # the plain one — binary keys are the real 4x window-key cut
        win = win.withColumn("h", F.unhex(F.sha2(F.col("span"), 256)))
    return base, win


def _substr_cut(base, dup, L):
    """Interval-merge the duplicated window starts per doc and rebuild
    each doc from its uncovered tokens — the tail of ExactSubstr, shared
    by the batch and incremental paths."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("p")
    isl = dup.select(
        "doc_id",
        "p",
        F.when(
            F.col("p") > F.coalesce(F.lag("p").over(w), F.lit(-L - 1)) + L, 1
        )
        .otherwise(0)
        .alias("ng"),
    )
    grp = isl.select(
        "doc_id",
        "p",
        F.sum("ng")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("g"),
    )
    iv = grp.groupBy("doc_id", "g").agg(
        F.min("p").alias("s"), (F.max("p") + L - 1).alias("e")
    )
    cov = iv.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("ivs"),
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("n_removed"),
        F.count(F.lit(1)).cast("bigint").alias("n_cut_spans"),
    )
    ivs = F.coalesce(
        F.col("ivs"), F.expr("CAST(array() AS array<struct<s:bigint,e:bigint>>)")
    )
    joined = base.join(cov, "doc_id", "left").select(
        "doc_id",
        "toks",
        F.explode(F.array(ivs)).alias("iv"),  # bind as attribute (lambda-VALUE rule)
        F.coalesce("n_removed", F.lit(0).cast("bigint")).alias("n_removed"),
        F.coalesce("n_cut_spans", F.lit(0).cast("bigint")).alias("n_cut_spans"),
    )
    kept = F.filter(
        F.col("toks"),
        lambda x, i: ~F.exists(
            F.col("iv"),
            lambda r: (r["s"] <= i.cast("bigint")) & (i.cast("bigint") <= r["e"]),
        ),
    )
    return joined.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        "n_cut_spans",
        "n_removed",
        F.array_join(kept, " ").alias("cleaned_text"),
    )


def exact_substr_index(
    docs: DataFrame,
    min_tokens: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The persisted half of incremental ExactSubstr: the corpus's
    first-occurrence index — one (h = sha256(window), kpk = min packed
    (doc_id, pos)) row per DISTINCT window content. This is a plain
    min-monoid keyed by a 32-byte hash, so it maintains exactly like the
    MinHash index (build once over history, parquet round-trip, fold
    deltas in at O(delta + touched keys)) and its size is bounded by
    distinct window content, not corpus occurrences."""
    _, win = _substr_windows(docs, int(min_tokens), text_col, id_col, hash_key=True)
    return win.groupBy("h").agg(F.min("pk").alias("kpk"))


def exact_substr_stream_fold(
    state_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    min_tokens: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> bool:
    """Fold one micro-batch of documents into a PERSISTED ExactSubstr
    first-occurrence index state — completing the batch / incremental /
    streaming triad (round-10 verdict item 5). The index is a plain
    min-monoid keyed by sha256(window) (:func:`exact_substr_index`), so
    it folds from a stream through exactly the replay-guarded
    apply_stream_batch machinery the BPE census / langid / DSIR states
    use: each batch contributes its windows' per-content minima, the
    state merge takes min-of-mins, and order independence means the
    drained state equals the batch-built index BIT-FOR-BIT however the
    stream slices the corpus. Returns False on a replayed batch id (the
    at-least-once guard). Version pruning (prune_versions) applies as to
    any agg state — the index is content-bounded, not occurrence-bounded.
    """
    from mongo_to_parquet_spark.operators import incremental

    _, win = _substr_windows(
        batch_df, int(min_tokens), text_col, id_col, hash_key=True
    )
    return incremental.apply_stream_batch(
        state_dir, win.select("h", "pk"), batch_id, ["h"], ["pk"]
    )


def exact_substr_index_from_state(state: DataFrame) -> DataFrame:
    """Project the persisted agg state back to the (h, kpk) index shape
    :func:`exact_substr_incremental` consumes — min_pk IS the
    first-occurrence key (exact: the state keeps the raw-typed min)."""
    return state.select("h", F.col("min_pk").alias("kpk"))


def exact_substr_incremental(
    delta: DataFrame,
    index: DataFrame,
    min_tokens: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Clean NEW documents against base ∪ delta without re-windowing the
    historical corpus — ExactSubstr's daily-crawl shape (the
    minhash_incremental_pairs discipline applied to span cutting).

    Equivalence argument (restricted-output, checked by the oracle): a
    delta window occurrence is cut iff the GLOBAL first occurrence of
    its content — over base (from the persisted index) and the whole
    delta — has a smaller packed key than its own. The merged minimum
    per content is min(index.kpk, min over delta occurrences), a
    min-monoid fold; base documents' own outputs are untouched by
    construction (they were cleaned when ingested — and if a new doc's
    key ordering would steal a base window's first-occurrence, that
    affects only the base doc's hypothetical re-clean, never the delta
    rows this emits). Cost: O(delta windows + touched index keys); the
    join against the index is semi-bounded by the delta's own distinct
    window contents.
    """
    L = int(min_tokens)
    base_d, win = _substr_windows(delta, L, text_col, id_col, hash_key=True)
    dmin = win.groupBy("h").agg(F.min("pk").alias("dmin"))
    # least() skips NULLs: content unseen in the base index keeps the
    # delta-local minimum as the global first occurrence
    merged = dmin.join(index, "h", "left").select(
        "h", F.least(F.col("dmin"), F.col("kpk")).alias("gmin")
    )
    dup = (
        win.join(merged, "h")
        .filter(F.col("pk") != F.col("gmin"))
        .select("doc_id", "p")
    )
    return _substr_cut(base_d, dup, L)


def _edge_fixpoint(e: DataFrame, step, max_iter: int) -> DataFrame:
    """Iterate ``e = step(e, r)`` for rounds r = 0, 1, … over a distinct
    (u, v) edge set until it stops changing; raise after ``max_iter``
    rounds without a fixpoint.

    Fixpoint detection is checksum-based, one aggregate over the edge
    set per round: (count, Σu, Σv) in DECIMAL(38,0). A matching
    checksum is then CONFIRMED by an exact set diff (``exceptAll``
    emptiness — one direction suffices: both rounds' edge sets are
    distinct and the checksum already matched their counts), so a
    checksum collision on a non-fixpoint set cannot terminate the loop
    early; the exact diff runs once, at convergence, not per round.
    Every round ``localCheckpoint``s the new edge set to truncate
    iterative lineage — on a cluster, ``checkpoint()`` (same rationale
    as :func:`connected_components`)."""
    prev = prev_e = None
    for r in range(max_iter):
        e = step(e, r).localCheckpoint()
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
            F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
        ).collect()[0]
        cs = (row["n"], row["su"], row["sv"])
        if cs == prev and prev_e.exceptAll(e).isEmpty():
            return e
        prev, prev_e = cs, e
    raise RuntimeError(f"edge-set loop: no fixpoint in {max_iter} rounds")


def connected_components_star(
    pairs: DataFrame,
    src: str = "doc1",
    dst: str = "doc2",
    max_iter: int = 30,
) -> DataFrame:
    """(node, comp) via alternating large-star/small-star rounds — the
    O(log n)-round connected components of Kiveris et al. ("Connected
    Components in MapReduce and Beyond", SOCC'14), built from the same
    groupBy-min + join blocks as :func:`connected_components`.

    Min-label propagation converges in O(component diameter) rounds —
    ideal for the shallow dense blobs near-dup mining emits, hopeless for
    adversarial long chains (a 10⁶-node path needs 10⁶ rounds). Star
    contraction instead rewires every node toward its neighborhood
    minimum each round:

    - **large-star** (on the symmetrized edge set): for each node u with
      m = min(N(u) ∪ {u}), re-point every LARGER neighbor v > u at m.
    - **small-star** (on edges oriented big→small): for each node u with
      m = min(N_small(u) ∪ {u}), point u and its other small neighbors
      at m.

    Both phases strictly shrink path structure toward stars; components
    collapse in O(log n) rounds regardless of diameter. Per round: two
    groupBy-min shuffles + two joins, all on (long, long) edges — the
    same per-round cost as min-label, exponentially fewer rounds on
    chains (pinned in tests: a 200-edge path that min-label cannot solve
    in 10 rounds finishes here in 6).

    Rounds run to the edge-set fixpoint of :func:`_edge_fixpoint`
    (checksum per round, exact set diff at a matching checksum); each
    round's edge set is node-count-sized.
    """
    e = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def star_round(e: DataFrame, _r: int) -> DataFrame:
        # ---- large-star: symmetrize, re-point larger neighbors at min
        b = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = b.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        ls = (
            b.join(mins.hint("shuffle_hash"), "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star: orient big→small, point u + small neighbors at min
        o = ls.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins2 = o.groupBy("u").agg(F.min("v").alias("m"))
        return (
            o.join(mins2.hint("shuffle_hash"), "u")
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
                        F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                    )
                ).alias("e")
            )
            .select(F.col("e.a").alias("u"), F.col("e.b").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    e = _edge_fixpoint(e, star_round, max_iter)
    # converged edges form stars child→root; roots label themselves
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("comp"))
    roots = e.select(F.col("v").alias("node")).distinct().withColumn(
        "comp", F.col("node")
    )
    return labels.unionByName(roots).distinct()


def _basket_pairs(
    baskets: DataFrame, arr: str, u: str = "u", v: str = "v"
) -> DataFrame:
    """(u, v) for every ordered pair u < v of each row's SORTED array
    ``arr``, generated map-side: posexplode picks u at position i, and
    slice(arr, i + 2, size) yields every later element as v. One
    groupBy(basket) collect_set shuffle upstream replaces a self-join's
    two shuffles; per-row fan-out is O(len(arr)²)."""
    return baskets.select(F.posexplode(arr).alias("i", u), arr).select(
        u,
        F.explode(F.slice(F.col(arr), F.col("i") + F.lit(2), F.size(arr))).alias(v),
    )


def _edge_degrees(edges: DataFrame) -> DataFrame:
    """(x, d): each endpoint of a (u, v) edge set with its edge count —
    one map-combined aggregate over the union of both endpoint columns."""
    return (
        edges.select(F.col("u").alias("x"))
        .unionAll(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def kcore_peel(
    pairs: DataFrame,
    k: int,
    rounds: int | None = None,
    max_iter: int = 50,
    src: str = "doc1",
    dst: str = "doc2",
    canonical: bool = False,
    degrees0: DataFrame | None = None,
) -> DataFrame:
    """(node, degree) after k-core peeling: repeatedly delete nodes whose
    degree in the SURVIVING subgraph is < k (degrees cascade — removing a
    weak node weakens its neighbors). The graph-curation primitive behind
    "keep only densely-linked documents/entities" filters.

    ``rounds=N`` runs exactly N peels — replayable by a SQL oracle as
    unrolled CTEs (the fixed-rounds discipline of q_graph_pagerank /
    q_embed_kmeans; survivors may still sit below k if N rounds haven't
    converged, which is the point of the parameter). Each round's edge
    set is ``localCheckpoint``-materialized: every peel references the
    previous edges ~5× (degree build + two semi joins), so a lazily
    nested plan grows ~5^N subtrees — measured 42s vs 3s at sf0.01 for
    N=3 — while the materialization is one edge-sized write per round.
    ``rounds=None`` peels to the exact k-core fixpoint through
    :func:`_edge_fixpoint` (the loop connected_components_star runs):
    checksum-per-round with an exceptAll confirm at the suspected
    fixpoint and ``localCheckpoint`` lineage truncation.

    Scale: each round is one map-combined degree aggregate plus two
    node-keyed semi joins — shuffle volume is the CURRENT edge set,
    monotonically shrinking; fixpoint depth is the peel depth of the
    graph, far below max_iter in practice.

    ``canonical=True`` declares the input already (u<v)-oriented,
    self-loop-free, duplicate-free AND materialized (checkpointed or
    cached) under columns ``src``/``dst`` — the normalize + distinct
    shuffle and the round-0 re-materialization are then skipped entirely
    (q_graph_kcore builds exactly such an edge set and paid a full
    edge-sized exchange + checkpoint write for nothing, round-12).

    ``degrees0`` is an optional precomputed (x, d) degree table of the
    INPUT edge set (materialized by the caller): a caller that already
    aggregated degrees for its own probe (q_graph_kcore's median-k)
    hands them in so round 1 does not re-aggregate the full edge set —
    exchange reuse cannot span the probe's separate action. Build it
    with :func:`_edge_degrees` over the canonical edge set (the builder
    every round uses), so it equals round 1's own degrees by
    construction; later rounds always recompute from the peeled edges.
    """
    if canonical:
        e = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    else:
        e = (
            pairs.select(
                F.least(F.col(src), F.col(dst)).alias("u"),
                F.greatest(F.col(src), F.col(dst)).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def peel(edges: DataFrame, deg: DataFrame | None = None) -> DataFrame:
        keep = (deg if deg is not None else _edge_degrees(edges)).filter(
            F.col("d") >= k
        ).select("x")
        return (
            edges.join(keep.withColumnRenamed("x", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("x", "v"), "v", "left_semi")
            .select("u", "v")
        )

    if rounds is not None:
        if not canonical:
            e = e.localCheckpoint()
        for r in range(rounds):
            e = peel(e, degrees0 if r == 0 else None).localCheckpoint()
    else:
        if not canonical:
            e = e.localCheckpoint()
        e = _edge_fixpoint(
            e, lambda e, r: peel(e, degrees0 if r == 0 else None), max_iter
        )
    return _edge_degrees(e).select(
        F.col("x").alias("node"), F.col("d").cast("bigint").alias("degree")
    )
