"""N-gram language-model perplexity filter — CCNet's other half.

CCNet (Wenzek et al. 2020, arXiv:1911.00359) gates crawl text on the
perplexity of a KenLM n-gram model; this is the same public idea with an
order-n stupid-backoff model (Brants et al. 2007, arXiv via ACL D07-1090:
"Large Language Models in Machine Translation" — stupid backoff is the
web-scale simplification of Katz/Kneser-Ney that needs no discounting
pass). For the n-gram w_1..w_n, with suffix_k = its last k words:

    S_k = c_k(suffix_k) / c_{k-1}(context of suffix_k)   if both are kept
        = alpha * S_{k-1}                                 else
    S_1 = coalesce(c_1(w_n), 1) / N                       (OOV floor 1/N)

    ppl(doc) = 10 ** ( - mean over the doc's n-grams of log10 S_n )

There is one backoff model, :class:`NgramLM`, and ``order`` is its only
knob: the bigram and trigram gates (``train_bigram_lm`` /
``with_perplexity`` and ``train_trigram_lm`` / ``with_perplexity_trigram``)
are orders 2 and 3 of it under their historical output column names;
n=5 is the CCNet KenLM shape. Kneser-Ney (the smoothing KenLM itself
uses) keeps its own bigram scorer below.

Scale shape: training is one ``groupBy().count()`` pass per order
(map-side partial aggregation) truncated to a BOUNDED top-V table with a
deterministic (count desc, gram asc) order — the broadcast-size budget a
1000-executor scorer actually has. Scoring explodes each doc's n-grams
map-side (no Python), joins 2n-1 **broadcast** count tables (suffix and
context per order, one shared base) and regroups once on doc_id; that
per-doc regroup is the only wide exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["train_bigram_lm", "with_perplexity",
           "train_trigram_lm", "with_perplexity_trigram",
           "NgramLM", "train_ngram_lm", "with_perplexity_ngram",
           "KneserNeyLM", "train_kn_lm", "with_perplexity_kn",
           "with_ppl_buckets"]

_ALPHA = 0.4  # stupid-backoff weight (Brants et al. 2007)


def _clean_tokens(text_col: str):
    return F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                    lambda x: x != "")


def _gram_structs_n(toks, k: int):
    """Array of w1..wk structs for every k-gram of the token array (JVM
    expression, no explode until the caller's posexplode/explode)."""
    n = F.size(toks) - (k - 1)
    return F.when(n < 1, F.array().cast(
        f"array<struct<{','.join(f'w{j + 1}:string' for j in range(k))}>>")
    ).otherwise(F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.struct(*[F.element_at(toks, i + j).alias(f"w{j + 1}")
                             for j in range(k)])))


class NgramLM:
    """Order-n stupid-backoff model: ``tables[k-1]`` is the top-V k-gram
    count DataFrame (columns w1..wk, c), all broadcast at scoring time."""

    def __init__(self, tables: list[DataFrame], total_tokens: int,
                 alpha: float = _ALPHA):
        self.tables = tables
        self.order = len(tables)
        self.total_tokens = total_tokens
        self.alpha = alpha


def train_ngram_lm(docs: DataFrame, text_col: str = "text", *,
                   order: int = 5, top_v: int = 100_000,
                   alpha: float = _ALPHA) -> NgramLM:
    """Count every order k = 1..``order`` corpus-wide (one
    partial-aggregated pass each), keep the deterministic top ``top_v``
    per order ((count desc, gram asc)), record N."""
    if order < 1:
        raise ValueError("order must be >= 1")
    toks = _clean_tokens(text_col)
    tables = []
    total = 0
    for k in range(1, order + 1):
        cols = [f"w{j + 1}" for j in range(k)]
        grams = (docs.select(F.explode(_gram_structs_n(toks, k)).alias("g"))
                 .select(*[F.col(f"g.{c}") for c in cols]))
        counts = grams.groupBy(*cols).agg(F.count("*").alias("c"))
        if k == 1:
            total = int(counts.agg(F.sum("c")).collect()[0][0] or 0)
        tables.append(counts.orderBy(F.desc("c"),
                                     *[F.asc(c) for c in cols])
                      .limit(top_v))
    return NgramLM(tables, total, alpha)


def with_perplexity_ngram(docs: DataFrame, lm: NgramLM,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """(id_col, n_ngrams, ppl) — order-n stupid-backoff perplexity per
    document, rounded to 6dp; docs with fewer than ``lm.order`` tokens
    score NULL with n_ngrams 0. All 2n-1 count joins broadcast; the only
    wide exchange is the per-doc regroup."""
    n = lm.order
    toks = _clean_tokens(text_col)
    grams = (docs.select(F.col(id_col).alias("doc_id"),
                         F.explode(_gram_structs_n(toks, n)).alias("g"))
             .select("doc_id", *[F.col(f"g.w{j + 1}").alias(f"w{j + 1}")
                                 for j in range(n)]))
    scored = grams
    # suffix_k of the n-gram = words n-k+1..n; its context = n-k+1..n-1
    for k in range(1, n + 1):
        sfx = [f"w{n - k + 1 + j}" for j in range(k)]
        tbl = lm.tables[k - 1]
        cols = [f"w{j + 1}" for j in range(k)]
        sel = tbl.select(*[F.col(c).alias(s) for c, s in zip(cols, sfx)],
                         F.col("c").alias(f"_c{k}s"))
        scored = scored.join(F.broadcast(sel), sfx, "left")
        if k < n:  # context table for order k+1's ratio
            ctx = [f"w{n - k + 1 + j - 1}" for j in range(k)]
            sel = tbl.select(*[F.col(c).alias(s)
                               for c, s in zip(cols, ctx)],
                             F.col("c").alias(f"_c{k}x"))
            scored = scored.join(F.broadcast(sel), ctx, "left")
    a = F.lit(lm.alpha)
    score = (F.coalesce(F.col("_c1s"), F.lit(1)).cast("double")
             / F.lit(float(lm.total_tokens)))
    for k in range(2, n + 1):
        score = F.when(
            F.col(f"_c{k}s").isNotNull()
            & F.col(f"_c{k - 1}x").isNotNull(),
            F.col(f"_c{k}s").cast("double") / F.col(f"_c{k - 1}x")
        ).otherwise(a * score)
    scored = (scored.groupBy("doc_id")
              .agg(F.count("*").cast("int").alias("n_ngrams"),
                   F.round(F.pow(F.lit(10.0),
                                 -F.avg(F.log10(score))), 6).alias("ppl")))
    base = docs.select(F.col(id_col).alias("doc_id"))
    return (base.join(scored, "doc_id", "left")
            .select(F.col("doc_id").alias(id_col),
                    F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
                    "ppl"))


# --- the bigram and trigram gates: orders 2 and 3 of the chain -----------

def train_bigram_lm(docs: DataFrame, text_col: str = "text", *,
                    top_v: int = 100_000,
                    alpha: float = _ALPHA) -> NgramLM:
    """The order-2 model: ``tables`` = [unigrams, bigrams], and N."""
    return train_ngram_lm(docs, text_col, order=2, top_v=top_v, alpha=alpha)


def with_perplexity(docs: DataFrame, lm: NgramLM,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(id_col, n_bigrams, ppl) — :func:`with_perplexity_ngram` of an
    order-2 model; docs with fewer than two tokens score NULL with
    n_bigrams 0."""
    return (with_perplexity_ngram(docs, lm, id_col, text_col)
            .withColumnRenamed("n_ngrams", "n_bigrams"))


def train_trigram_lm(docs: DataFrame, text_col: str = "text", *,
                     top_v: int = 100_000,
                     alpha: float = _ALPHA) -> NgramLM:
    """The order-3 model: ``tables`` = [unigrams, bigrams, trigrams], and
    N."""
    return train_ngram_lm(docs, text_col, order=3, top_v=top_v, alpha=alpha)


def with_perplexity_trigram(docs: DataFrame, lm: NgramLM,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """(id_col, n_trigrams, ppl3) — :func:`with_perplexity_ngram` of an
    order-3 model; docs with fewer than three tokens score NULL with
    n_trigrams 0."""
    return (with_perplexity_ngram(docs, lm, id_col, text_col)
            .withColumnRenamed("n_ngrams", "n_trigrams")
            .withColumnRenamed("ppl", "ppl3"))


def with_ppl_buckets(scored: DataFrame, strata_col: str = "lang",
                     ppl_col: str = "ppl",
                     cuts: tuple[float, float] = (1.0 / 3, 2.0 / 3),
                     cut_sample_frac: float | None = None,
                     id_col: str = "doc_id") -> DataFrame:
    """CCNet's head/middle/tail split: per-stratum perplexity percentile
    cutoffs, then each document labeled by which side of the cuts its
    ppl falls on (``head`` = lowest-perplexity third = highest quality).
    NULL-ppl rows (un-scoreable stubs) get a NULL bucket.

    Shape: the cutoff table is ONE row per stratum (tiny — broadcast
    back), exactly CCNet's precomputed-threshold design. The exact
    ``percentile`` aggregate holds a per-group value multiset, so at
    10^12-document scale pass ``cut_sample_frac`` to compute the cuts on
    a deterministic content-hash sample (corpus.deterministic_sample —
    resumable, engine-stable) — also CCNet practice (their thresholds
    come from a sample); labels are still assigned to EVERY row. Cutoffs
    round to 6dp so they compose with the 6dp-rounded perplexities."""
    src = scored.filter(F.col(ppl_col).isNotNull())
    if cut_sample_frac is not None:
        from .corpus import deterministic_sample
        src = deterministic_sample(src, cut_sample_frac, id_col=id_col)
    cutpoints = (src.groupBy(strata_col)
                 .agg(F.round(F.expr(
                     f"percentile({ppl_col}, {cuts[0]!r})"), 6)
                     .alias("_cut1"),
                     F.round(F.expr(
                         f"percentile({ppl_col}, {cuts[1]!r})"), 6)
                     .alias("_cut2")))
    out = scored.join(F.broadcast(cutpoints), strata_col, "left")
    bucket = (F.when(F.col(ppl_col).isNull(), F.lit(None))
              .when(F.col(ppl_col) <= F.col("_cut1"), F.lit("head"))
              .when(F.col(ppl_col) <= F.col("_cut2"), F.lit("middle"))
              .otherwise(F.lit("tail")))
    return (out.withColumn("ppl_bucket", bucket)
            .drop("_cut1", "_cut2"))


# --- Kneser-Ney (the smoothing KenLM itself uses) ------------------------

class KneserNeyLM:
    """Trained interpolated Kneser-Ney bigram handle: three bounded
    count tables (bigrams; contexts with follower-type counts;
    continuation-type counts), the absolute discount D, and the total
    bigram-type count. All tables broadcast at scoring time."""

    def __init__(self, bigrams: DataFrame, contexts: DataFrame,
                 continuations: DataFrame, discount: float,
                 n_types: int):
        self.bigrams = bigrams
        self.contexts = contexts
        self.continuations = continuations
        self.discount = discount
        self.n_types = n_types


def train_kn_lm(docs: DataFrame, text_col: str = "text", *,
                top_v: int = 100_000) -> KneserNeyLM:
    """Interpolated Kneser-Ney bigram LM (Kneser & Ney 1995, in the
    Chen & Goodman 1999 interpolated formulation) — the smoothing the
    CCNet gate's KenLM actually applies, where stupid backoff is its
    web-scale shortcut:

        P(w2|w1) = max(c(w1 w2) - D, 0)/c(w1)
                   + D * N1+(w1 .)/c(w1) * Pcont(w2)
        Pcont(w2) = N1+(. w2) / #bigram-types

    with the Ney count-of-counts discount D = n1/(n1 + 2 n2). Unseen
    contexts score Pcont(w2) directly; unseen continuations floor at
    one type (the same bounded-OOV convention as the backoff model).

    Scale shape: ONE corpus-wide bigram groupBy feeds everything — the
    discount scalars (one 1-row agg), the context table (groupBy w1:
    c(w1) + follower-type count), and the continuation table (groupBy
    w2: predecessor-type count). Each table truncates to ``top_v``
    rows under a deterministic order, the broadcast budget a scorer
    fleet actually has; kept rows carry their FULL-corpus counts, so
    truncation only widens the backoff path, never skews a kept
    estimate."""
    toks = _clean_tokens(text_col)
    bi_all = (docs.select(F.explode(_gram_structs_n(toks, 2)).alias("p"))
              .select("p.w1", "p.w2")
              .groupBy("w1", "w2").agg(F.count("*").alias("c")))
    cc = bi_all.agg(
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).alias("n2"),
        F.count("*").alias("types")).collect()[0]
    n1 = int(cc["n1"] or 0)
    n2 = int(cc["n2"] or 0)
    types = int(cc["types"] or 0)
    discount = n1 / (n1 + 2.0 * n2) if (n1 + 2 * n2) > 0 else 0.75
    ctx = (bi_all.groupBy("w1")
           .agg(F.sum("c").alias("c_ctx"),
                F.count("*").alias("n_follow"))
           .orderBy(F.desc("c_ctx"), F.asc("w1")).limit(top_v))
    cont = (bi_all.groupBy("w2").agg(F.count("*").alias("n_prec"))
            .orderBy(F.desc("n_prec"), F.asc("w2")).limit(top_v))
    bi = bi_all.orderBy(F.desc("c"), F.asc("w1"), F.asc("w2")).limit(top_v)
    return KneserNeyLM(bi, ctx, cont, float(discount), types)


def with_perplexity_kn(docs: DataFrame, lm: KneserNeyLM,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(id_col, n_bigrams, ppl) — interpolated Kneser-Ney bigram
    perplexity, 6dp; <2-token docs score NULL with n_bigrams 0. Same
    scoring shape as the backoff model: map-side bigram explode,
    three BROADCAST joins, one per-doc regroup."""
    toks = _clean_tokens(text_col)
    pairs = (docs.select(F.col(id_col).alias("doc_id"),
                         F.explode(_gram_structs_n(toks, 2)).alias("p"))
             .select("doc_id", "p.w1", "p.w2"))
    bi = F.broadcast(lm.bigrams.select(
        "w1", "w2", F.col("c").alias("c_bi")))
    ctx = F.broadcast(lm.contexts)
    cont = F.broadcast(lm.continuations)
    t = float(max(lm.n_types, 1))
    d = lm.discount
    p_cont = F.coalesce(F.col("n_prec"), F.lit(1)).cast("double") / F.lit(t)
    # Chen-Goodman interpolated KN: a SEEN context always contributes
    # its back-off weight D*N1+(w1,.)/c(w1), even for an unseen bigram
    # (c_bi null -> the discounted-ML term is 0); raw Pcont applies
    # only to contexts outside the model, so each seen-context
    # conditional distribution sums to 1 (truncation aside).
    score = F.when(
        F.col("c_bi").isNotNull() & F.col("c_ctx").isNotNull(),
        (F.greatest(F.col("c_bi") - F.lit(d), F.lit(0.0))
         + F.lit(d) * F.col("n_follow") * p_cont) / F.col("c_ctx")
    ).when(
        F.col("c_ctx").isNotNull(),
        F.lit(d) * F.col("n_follow") * p_cont / F.col("c_ctx")
    ).otherwise(p_cont)
    scored = (pairs
              .join(bi, ["w1", "w2"], "left")
              .join(ctx, ["w1"], "left")
              .join(cont, ["w2"], "left")
              .groupBy("doc_id")
              .agg(F.count("*").cast("int").alias("n_bigrams"),
                   F.round(F.pow(F.lit(10.0),
                                 -F.avg(F.log10(score))), 6).alias("ppl")))
    base = docs.select(F.col(id_col).alias("doc_id"))
    return (base.join(scored, "doc_id", "left")
            .select(F.col("doc_id").alias(id_col),
                    F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                    "ppl"))
