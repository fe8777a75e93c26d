"""Corpus-curation operators for training-data pipelines.

Beyond-the-reference surface (the reference ends at warehouse views;
a 100 TB training pipeline additionally needs curation): Gopher-style
quality gates, unigram-frequency scoring, eval-set decontamination and
per-source caps.  All signals are pure JVM expressions (no Python in the
hot path) and every ratio is a double division of exact integers, so the
results are bit-identical across engines and deterministic under any
partitioning / AQE re-plan.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .skew import broadcast_if_bounded, pin
from ..functions.cleaning import clean_text
from ..sources.tables import fan_out

#: stopword markers shared with textstats.LANG_MARKERS["en"]; a doc is
#: expected to contain at least GOPHER_MIN_STOP_HITS distinct ones.
STOP_MARKERS = ("the", "and", "of", "is", "to")
GOPHER_MIN_STOP_HITS = 2
GOPHER_MIN_TOKENS = 5
GOPHER_MAX_TOKENS = 10_000
GOPHER_MIN_UNIQUE_FRAC = 0.2
GOPHER_MAX_BULLET_RATIO = 0.9
GOPHER_MAX_ELLIPSIS_RATIO = 0.3

#: md5-prefix length for mixture_fill's order-contiguous buckets: 2 hex
#: chars = 256 buckets/language (a window partition holds ~1/256 of a
#: language).  Raise to 3 (4096 buckets) for a 100 TB corpus.
_BKT_CHARS = 2


def _tokens(c: Column | str) -> Column:
    cleaned = clean_text(c)
    return F.when(F.length(cleaned) == 0, F.array().cast("array<string>")).otherwise(
        F.split(F.lower(cleaned), " ")
    )


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    append: bool = False,
) -> DataFrame:
    """Gopher-style repetition/format quality gates (Rae et al. 2021,
    §A1.1 of the Gopher paper — public).  Adapted to this corpus:

    - token count within [5, 10k],
    - distinct-token fraction ≥ 0.2 (catches looped boilerplate),
    - ≤ 90% of lines bullet-led, ≤ 30% ellipsis-terminated,
    - ≥ 2 distinct English stop markers present.

    Map-only: every signal is a per-row expression chain; no shuffle,
    no UDF.  Line signals operate on the RAW text (newlines are exactly
    what ``clean_text`` collapses); token signals on the cleaned text.

    ``append=True`` keeps the input columns (composable with the other
    map-only signal operators into a single-scan curation profile).
    """
    raw = F.coalesce(F.col(text_col), F.lit(""))
    toks = _tokens(text_col)
    n_tokens = F.size(toks)
    n_unique = F.size(F.array_distinct(toks))
    frac_unique = F.when(n_tokens > 0, n_unique.cast("double") / n_tokens.cast("double")).otherwise(F.lit(0.0))

    lines = F.split(raw, "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: F.ltrim(l).startswith("-") | F.ltrim(l).startswith("*"),
        )
    )
    n_ellipsis = F.size(F.filter(lines, lambda l: F.rtrim(l).endswith("...")))
    bullet_ratio = F.when(n_lines > 0, n_bullet.cast("double") / n_lines.cast("double")).otherwise(F.lit(0.0))
    ellipsis_ratio = F.when(n_lines > 0, n_ellipsis.cast("double") / n_lines.cast("double")).otherwise(F.lit(0.0))

    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(w) for w in STOP_MARKERS])
        )
    )

    ok_tokens = (n_tokens >= GOPHER_MIN_TOKENS) & (n_tokens <= GOPHER_MAX_TOKENS)
    ok_unique = frac_unique >= F.lit(GOPHER_MIN_UNIQUE_FRAC)
    ok_bullets = bullet_ratio <= F.lit(GOPHER_MAX_BULLET_RATIO)
    ok_ellipsis = ellipsis_ratio <= F.lit(GOPHER_MAX_ELLIPSIS_RATIO)
    ok_stops = stop_hits >= GOPHER_MIN_STOP_HITS

    signals = [
        n_tokens.cast("bigint").alias("n_tokens"),
        frac_unique.alias("frac_unique"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
        stop_hits.cast("bigint").alias("stop_hits"),
        (ok_tokens & ok_unique & ok_bullets & ok_ellipsis & ok_stops).alias(
            "gopher_ok"
        ),
    ]
    out = fan_out(df)
    if append:
        # n_tokens may already exist upstream (quality_stats computes the
        # identical value) — select-star minus it keeps one copy
        keep = [c for c in out.columns if c != "n_tokens"]
        return out.select(*keep, *signals)
    return out.select(F.col(id_col), *signals)


def unigram_freq_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Unigram-LM commonness scoring WITHOUT logarithms.

    The classic CCNet/KenLM signal is mean token log-probability; ln()
    differs in the last ulp across libm implementations, so this engine
    scores with the arithmetic-mean token frequency instead — the same
    ordering signal for boilerplate detection (high mean frequency =
    very common tokens = template/boilerplate text), but every
    intermediate is an exact BIGINT and the final score one fixed-order
    double division chain, reproducible on any engine.

    Plan shape: posting explode → count per token (vocab, shuffled on
    token — bounded by vocab size, not corpus size) → posting⋈vocab
    with the vocab side EXPLICITLY broadcast (round-7 skew audit, same
    hazard as bigram_fluency's context join: the posting side is
    Zipf-skewed on bare token, so a shuffled join lands the top word's
    entire posting list on one reducer; the vocab count table is
    vocab-bounded at any corpus size, and a corpus whose raw vocab
    outgrows broadcast should min-df-prune it first anyway) → per-doc
    sum.  The corpus total is a 1-row aggregate broadcast via cross
    join (the engine's allowlisted scalar pattern).
    """
    base = fan_out(df).select(
        F.col(id_col).alias("doc"), _tokens(text_col).alias("toks")
    )
    posts = base.select("doc", F.explode("toks").alias("tok"))
    vocab = posts.groupBy("tok").agg(F.count("*").cast("bigint").alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("bigint").alias("total"))

    per_doc = (
        posts.join(broadcast_if_bounded(vocab), "tok")
        .groupBy("doc")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("cnt").cast("bigint").alias("sum_cnt"),
            F.min("cnt").cast("bigint").alias("min_cnt"),
        )
    )
    return (
        base.select("doc")
        .join(per_doc, "doc", "left")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("sum_cnt", F.lit(0)).alias("sum_cnt"),
            F.coalesce("min_cnt", F.lit(0)).alias("min_cnt"),
            F.when(
                F.col("n_tokens").isNotNull(),
                F.col("sum_cnt").cast("double")
                / F.col("n_tokens").cast("double")
                / F.col("total").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("mean_tok_freq"),
        )
    )


def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Eval-set decontamination by n-gram overlap (the GPT-3/PaLM
    protocol, public): a training doc is contaminated when it shares at
    least one word n-gram with any eval document.

    Scale shape: the eval side reduces to its DISTINCT shingle set —
    small relative to the corpus (eval sets are thousands of docs), so
    the train-postings ⋈ eval-shingles equi-join EXPLICITLY broadcasts
    the eval side (round-7 skew audit: shingle frequency is Zipf-like,
    and broadcasting by construction — rather than trusting AQE's
    runtime stats — guarantees the corpus-sized posting list never
    shuffles on a skewed key); the corpus is touched exactly once and
    never self-joins.  Returns every train doc with its count of
    distinct shared shingles.
    """
    from .dedup import _shingle_sets

    train_sh = _shingle_sets(df, id_col, text_col, n)
    eval_shingles = (
        _shingle_sets(eval_df, id_col, text_col, n)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    shared = (
        train_sh.select("doc", F.explode("shingles").alias("shingle"))
        .join(F.broadcast(eval_shingles), "shingle")
        .groupBy("doc")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    return (
        train_sh.select("doc")
        .join(shared, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontamination_report(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """The eval-integrity view of decontamination: per EVAL document, how
    much of the training corpus leaks into it — which benchmark items are
    compromised and how badly (``decontaminate`` answers the mirror
    question per train doc).

    Scale shape: identical to ``decontaminate`` — the corpus posting
    list is touched once and equi-joins the (eval-sized, explicitly
    broadcast) eval posting set on shingle; per-eval-doc rollup keys on
    the small side.  Every eval doc appears (zero-leak rows included)
    so the report is a complete audit, not just a hit list.
    """
    from .dedup import _shingle_sets

    eval_sh = _shingle_sets(eval_df, id_col, text_col, n)
    eval_posts = eval_sh.select(
        F.col("doc").alias("eval_doc"), F.explode("shingles").alias("shingle")
    )
    train_posts = (
        _shingle_sets(df, id_col, text_col, n)
        .select(F.col("doc").alias("train_doc"),
                F.explode("shingles").alias("shingle"))
    )
    hits = train_posts.join(
        F.broadcast(eval_posts), "shingle"
    ).groupBy("eval_doc").agg(
        F.count_distinct("train_doc").cast("bigint").alias("n_leaky_train_docs"),
        F.count_distinct("shingle").cast("bigint").alias("n_shared_shingles"),
        F.count("*").cast("bigint").alias("n_posting_hits"),
    )
    return (
        eval_sh.select(
            F.col("doc").alias("eval_doc"),
            F.size("shingles").cast("bigint").alias("n_shingles"),
        )
        .join(hits, "eval_doc", "left")
        .select(
            F.col("eval_doc").alias(id_col),
            "n_shingles",
            F.coalesce("n_leaky_train_docs", F.lit(0)).alias(
                "n_leaky_train_docs"
            ),
            F.coalesce("n_shared_shingles", F.lit(0)).alias(
                "n_shared_shingles"
            ),
            F.coalesce("n_posting_hits", F.lit(0)).alias("n_posting_hits"),
            F.when(
                F.col("n_shingles") > 0,
                F.coalesce("n_shared_shingles", F.lit(0)).cast("double")
                / F.col("n_shingles").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("leak_fraction"),
        )
    )


def mixture_fill(
    df: DataFrame,
    allocations: dict[str, int],
    id_col: str = "doc_id",
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Materialize a training mixture: fill each language's TOKEN
    allocation with documents chosen in deterministic hash order.

    ``allocations`` maps language → token budget (precomputed ints, e.g.
    ``{lang: floor(total * weight)}``).  Within each language, docs are
    ordered by (md5(id), id) — an unbiased, reproducible shuffle — and
    kept while the running token total stays within budget (no partial
    documents).  Languages absent from the map are dropped.

    Scale shape — TWO-PHASE quota fill, not one monolithic window.  A
    single ``Window.partitionBy(lang)`` running sum puts an entire
    language in ONE task's sort; at 100 TB a dominant language (English,
    ~half the corpus) is a single-task scale-killer.  Instead:

    1. Bucket each doc by the first ``_BKT_CHARS`` hex chars of
       ``md5(id)``.  Because the deterministic order IS ``(md5, id)``,
       these buckets are **contiguous ranges of the order**, so
       bucket-level prefix sums compose exactly into the global running
       sum — the output (including ``cum_tokens``) is bit-identical to
       the monolithic window, and the oracle SQL needs no change.
    2. Aggregate per-bucket token totals (≤ ``16^_BKT_CHARS`` rows per
       language) and prefix-sum THEM with a window over the tiny bucket
       table.
    3. Drop every bucket whose preceding total already exceeds the
       budget BEFORE any row-level sort — the row-level running-sum
       window then runs per ``(lang, bucket)``, each partition holding
       ~1/256 of a language, and only over roughly budget-sized data.
    """
    alloc_expr = F.lit(0)
    for lang, budget in sorted(allocations.items()):
        alloc_expr = F.when(
            F.col(lang_col) == lang, F.lit(int(budget))
        ).otherwise(alloc_expr)
    n_tokens = F.size(_tokens(text_col)).cast("bigint")
    h = F.md5(F.col(id_col).cast("string"))
    base = df.select(
        F.col(id_col),
        F.col(lang_col),
        n_tokens.alias("n_tokens"),
        alloc_expr.cast("bigint").alias("alloc"),
        h.alias("_h"),
        F.substring(h, 1, _BKT_CHARS).alias("_bkt"),
    )

    # phase 1-2: per-bucket totals + prefix sum over the tiny bucket table
    wb = (
        Window.partitionBy(lang_col)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bkt_cum = (
        base.groupBy(lang_col, "_bkt")
        .agg(F.sum("n_tokens").alias("_bkt_tokens"))
        .select(
            lang_col,
            "_bkt",
            F.coalesce(F.sum("_bkt_tokens").over(wb), F.lit(0))
            .cast("bigint")
            .alias("_cum_before"),
        )
    )

    # phase 3: prune whole buckets past budget pre-sort; row-level running
    # sum only within each surviving (lang, bucket) slice
    wr = (
        Window.partitionBy(lang_col, "_bkt")
        .orderBy("_h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.join(F.broadcast(bkt_cum), [lang_col, "_bkt"])
        # <= not <: a bucket whose preceding total EQUALS the budget can
        # still contribute zero-token docs with cum_tokens == alloc
        .where(F.col("_cum_before") <= F.col("alloc"))
        .withColumn(
            "cum_tokens",
            (F.col("_cum_before") + F.sum("n_tokens").over(wr)).cast(
                "bigint"
            ),
        )
        .where(F.col("cum_tokens") <= F.col("alloc"))
        .select(id_col, lang_col, "n_tokens", "cum_tokens")
    )


def temperature_allocations(
    df: DataFrame,
    budget: int,
    lang_col: str = "lang",
    weight_quant: int = 1_000_000,
) -> dict[str, int]:
    """Temperature-flattened (α = 0.5) per-language token allocations
    from corpus counts: ``weight_l ∝ √n_l`` — the multilingual-LM
    rebalancing that upweights low-resource languages relative to
    proportional sampling (α = 1 would be proportional; lower α is
    flatter).  α is FIXED at 0.5 because ``sqrt`` is IEEE
    correctly-rounded in every engine while ``pow`` is not — an
    arbitrary-α artifact would not be cross-engine reproducible.

    Determinism: weights quantize to ``floor(√n · weight_quant)`` longs
    BEFORE summation, and the allocation is pure integer math
    (``budget · w_q // Σw_q``), so the artifact is identical on any
    engine and partitioning.  Driver state: |languages| rows (bounded
    model artifact, the IVF-centroid pattern).
    """
    import math

    rows = (
        # NULL languages get no allocation — mirrors SQL `USING (lang)`
        # semantics (NULL never equi-joins) and keeps the dict sortable
        df.where(F.col(lang_col).isNotNull())
        .groupBy(lang_col)
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .collect()
    )
    wq = {
        r[lang_col]: math.floor(math.sqrt(r["n_docs"]) * weight_quant)
        for r in rows
    }
    total = sum(wq.values())
    if total == 0:
        return {}
    return {lang: (budget * w) // total for lang, w in wq.items()}


def mixture_temperature_fill(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """``mixture_fill`` with allocations COMPUTED from the corpus via
    ``temperature_allocations`` (α = 0.5) instead of caller-fixed
    weights — the self-calibrating mixture the fixed-weight variant
    approximates by hand.  Same two-phase quota-fill scale shape."""
    return mixture_fill(
        df,
        temperature_allocations(df, budget, lang_col),
        id_col,
        lang_col,
        text_col,
    )


def source_cap(
    df: DataFrame,
    cap: int,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source document cap: keep at most ``cap`` docs per source,
    chosen by an unbiased deterministic hash order (md5 of the id), so
    no source dominates the mixture.  One window over ``source`` — the
    standard per-group top-k plan (partial TakeOrdered per partition
    under AQE); heavy sources are bounded by the cap itself.
    """
    w = (
        F.row_number()
        .over(
            Window.partitionBy(source_col).orderBy(
                F.md5(F.col(id_col).cast("string")), F.col(id_col)
            )
        )
        .alias("rn")
    )
    return (
        df.select(F.col(id_col), F.col(source_col), w)
        .where(F.col("rn") <= cap)
        .select(id_col, source_col, F.col("rn").cast("int").alias("rn"))
    )


def bigram_fluency_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Bigram-LM fluency scoring: per doc, the mean MLE conditional
    probability count(w1,w2)/count(w1) over its adjacent token pairs —
    the fluency complement to ``unigram_freq_score``'s commonness
    (word-salad scores low here even when every word is common).

    Same log-free determinism discipline: each conditional ratio is
    quantized to an exact 1e-9-grid long BEFORE the per-doc sum (double
    sums are merge-order dependent; quantized long sums are not), so
    the score is partition-invariant.  Plan shape: one bigram explode →
    bigram + context count tables (vocab²-bounded, shuffled on the
    pair/word key) → posting joins → per-doc exact sum.  Docs with
    fewer than 2 tokens score NULL (no bigram evidence), not 0.
    """
    Q = 1_000_000_000
    base = fan_out(df).select(
        F.col(id_col).alias("doc"), _tokens(text_col).alias("toks")
    )
    pairs = base.where(F.size("toks") >= 2).select(
        "doc",
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select("doc", "p.w1", "p.w2")
    bigrams = pairs.groupBy("w1", "w2").agg(
        F.count("*").cast("bigint").alias("c12")
    )
    # context counts = occurrences of w1 AS A BIGRAM CONTEXT (i.e. all
    # non-final positions) so Σ_w2 P(w2|w1) = 1 exactly
    contexts = pairs.groupBy("w1").agg(
        F.count("*").cast("bigint").alias("c1")
    )
    # broadcast the vocab-bounded contexts table (round-6 verdict #6):
    # a shuffled equi-join on bare w1 is Zipf-skewed at corpus scale —
    # the top word's postings all land on one reducer — while the
    # distinct-w1 table is vocab-sized (≤ a few M rows at any corpus
    # size), so map-side hash lookup removes both the shuffle and the
    # hot key.  The (w1, w2) bigram join keeps its shuffle: its key
    # carries the pair, whose max multiplicity is the max bigram count,
    # far below the max unigram count.
    scored = (
        pairs.join(bigrams, ["w1", "w2"])
        .join(broadcast_if_bounded(contexts), "w1")
        .withColumn(
            "pq",
            F.floor(
                F.col("c12").cast("double")
                / F.col("c1").cast("double")
                * Q
                + F.lit(0.5)
            ).cast("long"),
        )
    )
    per_doc = scored.groupBy("doc").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.sum("pq").cast("bigint").alias("sum_pq"),
    )
    return (
        base.select("doc")
        .join(per_doc, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            (
                F.col("sum_pq").cast("double")
                / F.col("n_bigrams").cast("double")
                / F.lit(float(Q))
            ).alias("mean_cond_prob"),
        )
    )


#: DSIR hashed-feature space: unigrams + adjacent bigrams hashed into
#: this many buckets (Xie et al. 2023 use 10k; 4096 keeps the log-ratio
#: table broadcast-trivial while leaving <3 expected collisions per
#: bucket on the synthetic corpus)
DSIR_BUCKETS = 4096
_DSIR_Q = 1_000_000


def _hashed_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, bucket [, carried cols]) posting list over unigram +
    adjacent-bigram features, md5-prefix-hashed into ``DSIR_BUCKETS``
    buckets (the portable-across-engines hash used everywhere else).
    Every column of ``df`` other than ``text_col`` rides along, so
    callers never re-join the posting list against the doc table."""
    toks = _tokens(text_col)
    carried = [c for c in df.columns if c not in (id_col, text_col)]
    base = df.select(
        F.col(id_col).alias("doc"), toks.alias("toks"), *carried
    )
    feats = base.select(
        "doc",
        *carried,
        F.explode(
            F.concat(
                F.col("toks"),
                F.when(
                    F.size("toks") >= 2,
                    F.zip_with(
                        F.slice("toks", 1, F.size("toks") - 1),
                        F.slice("toks", 2, F.size("toks") - 1),
                        lambda a, b: F.concat_ws(" ", a, b),
                    ),
                ).otherwise(F.array().cast("array<string>")),
            )
        ).alias("feat"),
    )
    return feats.select(
        "doc",
        *carried,
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("g|"), F.col("feat"))), 1, 8),
                16,
                10,
            ).cast("long")
            % DSIR_BUCKETS
        ).alias("bucket"),
    )


def dsir_importance(
    df: DataFrame,
    is_target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023, public method): score every RAW doc
    (``NOT is_target``) by how much its hashed n-gram bag looks like the
    target domain rather than the raw pool —
    ``w(d) = Σ_b c_b(d) · log2(p_target[b] / p_raw[b])`` with add-one
    smoothing over ``DSIR_BUCKETS`` buckets.  Downstream, resampling
    keeps the top-weighted docs (any existing top-k / threshold op).

    Determinism: the bucket log-ratio is computed from EXACT integer
    counts (one fixed-order double division chain — IEEE ops are
    bit-identical across engines; only reduction order is not) and
    quantized to an integer 1e-6 grid PER BUCKET before the per-doc
    Σ c_b · lr_micro, which is then an exact BIGINT sum — the weight is
    partition-invariant and cross-engine exact.

    Scale: ONE posting pass over the corpus (round 16 — previously
    two: train re-tokenized the full corpus, score re-tokenized the
    raw docs).  The tokenize+hash explode aggregates once to a pinned
    per-(doc, is_t, bucket) count frame; the 4096-row training totals
    re-aggregate FROM that frame (map-combinable, no corpus re-scan)
    and the per-doc scoring join consumes it directly.  The counts are
    exact integers either way, so the model and the scores are
    bit-identical to the two-pass formulation (oracle- and
    test-pinned).  The log-ratio table broadcasts into the per-doc
    join.  All aggregates are map-combinable.  No windows, no
    all-pairs, no scalar cross join.
    """
    spark = df.sparkSession
    tagged = fan_out(df).select(
        F.col(id_col).alias("doc"),
        F.col(text_col).alias("text"),
        is_target.alias("is_t"),
    )
    postings = (
        _hashed_features(tagged, "doc", "text")
        .groupBy("doc", "is_t", "bucket")
        .agg(F.count("*").cast("long").alias("k"))
    )
    # two consumers with different pruning (bucket totals vs per-doc
    # counts) — pin so the tokenize+hash pass executes once
    postings = pin(postings)
    model = _dsir_model_from_postings(spark, postings)
    lr = spark.createDataFrame(
        [tuple(p) for p in model["lr"]], "bucket long, lr_micro long"
    )
    docfeat = postings.where(~F.col("is_t")).select("doc", "bucket", "k")
    w = (
        docfeat.join(F.broadcast(lr), "bucket", "left")
        .groupBy("doc")
        .agg(
            F.sum("k").cast("long").alias("n_feats"),
            F.sum(
                F.col("k")
                * F.coalesce(
                    F.col("lr_micro"),
                    F.lit(int(model["default_lr_micro"])),
                )
            )
            .cast("long")
            .alias("weight_micro"),
        )
    )
    raw_ids = tagged.where(~F.col("is_t")).select("doc")
    return raw_ids.join(w, "doc", "left").select(
        F.col("doc").alias(id_col),
        F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
        F.coalesce("weight_micro", F.lit(0)).cast("long").alias(
            "weight_micro"
        ),
    )


def dsir_train(
    df: DataFrame,
    is_target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Train the DSIR model: one posting pass over the tagged corpus to
    the ≤``DSIR_BUCKETS``-row bucket count table — bounded at ANY corpus
    size, so it collects like the IVF-centroid / SQ8-codebook model
    artifacts do.  Totals are exact Python int sums (order-free); every
    log2 runs as a JVM expression over a re-created bounded frame, so
    the quantized ratios come from the same libm as every other scored
    query (collecting JVM-computed longs, never re-deriving them with
    Python's libm).  Returns a JSON-serializable dict
    (``model_store.save_dsir`` persists it): per-bucket quantized
    log-ratios plus the smoothed default for buckets unseen in training.
    """
    tagged = fan_out(df).select(
        F.col(id_col).alias("doc"),
        F.col(text_col).alias("text"),
        is_target.alias("is_t"),
    )
    feats = _hashed_features(tagged, "doc", "text")
    # straight to per-bucket totals: the map-side partial agg combines
    # to ≤4096 groups per task, so almost nothing crosses the shuffle
    # (a per-doc pre-aggregate here would shuffle |docs|×|buckets| rows
    # for no consumer — training never needs per-doc counts)
    bc = feats.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0))
        .cast("long")
        .alias("c_t"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(1))
        .cast("long")
        .alias("c_r"),
    )
    return _dsir_model_from_counts(df.sparkSession, bc.collect())


def _dsir_model_from_postings(spark, postings: DataFrame) -> dict:
    """Train from a per-(doc, is_t, bucket, k) posting-count frame (the
    pinned frame ``dsir_importance`` shares with scoring): re-aggregate
    to the same ≤4096-row bucket totals ``dsir_train`` computes directly
    — exact integer sums either way, so the model is identical."""
    bc = postings.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_t"), F.col("k")).otherwise(0))
        .cast("long")
        .alias("c_t"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(F.col("k")))
        .cast("long")
        .alias("c_r"),
    )
    return _dsir_model_from_counts(spark, bc.collect())


def _dsir_model_from_counts(spark, bc_rows) -> dict:
    """Bucket count rows (bucket, c_t, c_r) → the persistable DSIR model
    dict — the shared tail of both training paths.  Totals are exact
    Python int sums; every log2 runs as a JVM expression over a
    re-created bounded frame (see ``dsir_train``).  Rows sort by bucket
    so the persisted artifact is byte-identical under any partitioning
    (and both training paths emit the identical dict)."""
    B = DSIR_BUCKETS
    bc_rows = sorted(bc_rows, key=lambda r: r["bucket"])
    n_t = sum(r["c_t"] for r in bc_rows)
    n_r = sum(r["c_r"] for r in bc_rows)

    def _lr_col(c_t, c_r):
        return (
            F.floor(
                F.log2(
                    ((c_t + 1).cast("double") / F.lit(n_t + B).cast("double"))
                    / (
                        (c_r + 1).cast("double")
                        / F.lit(n_r + B).cast("double")
                    )
                )
                * _DSIR_Q
                + 0.5
            )
            .cast("long")
            .alias("lr_micro")
        )

    # one bounded local job computes every ratio, including the default
    # for zero-evidence buckets (the NULL-bucket sentinel row carries
    # c_t = c_r = 0 through the identical expression chain)
    lr_rows = (
        spark.createDataFrame(
            [(r["bucket"], r["c_t"], r["c_r"]) for r in bc_rows]
            + [(None, 0, 0)],
            "bucket long, c_t long, c_r long",
        )
        .select("bucket", _lr_col(F.col("c_t"), F.col("c_r")))
        .collect()
    )
    default_micro = next(
        r["lr_micro"] for r in lr_rows if r["bucket"] is None
    )
    return {
        "n_buckets": B,
        "n_t": n_t,
        "n_r": n_r,
        "default_lr_micro": int(default_micro),
        "lr": [
            [int(r["bucket"]), int(r["lr_micro"])]
            for r in lr_rows
            if r["bucket"] is not None
        ],
    }


def dsir_score(
    df: DataFrame,
    model: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score ANY doc frame with a trained DSIR model (train once, score
    many runs — or score fresh docs at ingest via ``foreachBatch``): the
    persisted log-ratio table broadcasts (≤4096 rows), features the
    model never saw score the model's smoothed default, and the per-doc
    weight is the same exact quantized BIGINT sum as at train time.  A
    doc with zero features scores (0, 0)."""
    if model.get("n_buckets") != DSIR_BUCKETS:
        raise ValueError(
            f"model was trained with n_buckets={model.get('n_buckets')}, "
            f"engine uses {DSIR_BUCKETS}"
        )
    spark = df.sparkSession
    lr = spark.createDataFrame(
        [tuple(p) for p in model["lr"]], "bucket long, lr_micro long"
    )
    base = fan_out(df).select(
        F.col(id_col).alias("doc"), F.col(text_col).alias("text")
    )
    docfeat = _hashed_features(base, "doc", "text").groupBy(
        "doc", "bucket"
    ).agg(F.count("*").cast("long").alias("k"))
    w = (
        docfeat.join(F.broadcast(lr), "bucket", "left")
        .groupBy("doc")
        .agg(
            F.sum("k").cast("long").alias("n_feats"),
            F.sum(
                F.col("k")
                * F.coalesce(
                    F.col("lr_micro"),
                    F.lit(int(model["default_lr_micro"])),
                )
            )
            .cast("long")
            .alias("weight_micro"),
        )
    )
    return base.select("doc").join(w, "doc", "left").select(
        F.col("doc").alias(id_col),
        F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
        F.coalesce("weight_micro", F.lit(0)).cast("long").alias(
            "weight_micro"
        ),
    )


def _dsir_auto_ppm(n_rows: int, max_sample_rows: int) -> int:
    """Largest parts-per-million sampling fraction whose expected
    hash-sample size stays within ``max_sample_rows``: 1e6 (exact,
    full-corpus quantile) while the corpus itself fits the driver
    budget, else proportionally smaller — never 0 (a degenerate empty
    sample keeps everything).  Ppm rather than permille granularity so
    the bound holds to ~10¹¹ docs (permille's floor of 1/1000 would
    still collect 10M rows from a 10¹⁰-doc corpus)."""
    if n_rows <= max_sample_rows:
        return 1_000_000
    return max(1, min(999_999, (max_sample_rows * 1_000_000) // n_rows))


def dsir_threshold_select(
    weights: DataFrame,
    keep_frac: float,
    id_col: str = "doc_id",
    sample_permille: int | None = None,
    max_sample_rows: int = 262_144,
) -> DataFrame:
    """Select the top ``keep_frac`` of docs by DSIR weight via a
    sampled-quantile threshold — the scale path for "keep the best X%":
    a global exact top-k would either range-sort the corpus or pull k
    rows to the driver, so instead (1) a deterministic md5 hash sample
    (``sample_permille``/1000 of docs — same seeding pattern as the IVF
    centroid sampler) is collected, (2) the threshold is the exact
    ``keep_frac`` quantile OF THE SAMPLE, computed on the driver from a
    few thousand longs, and (3) the corpus is filtered by
    ``weight_micro >= threshold`` — one broadcast-free scan.

    Ties at the threshold are kept (selection can exceed ``keep_frac``
    by the tie mass; the build report records the realized count).
    Deterministic end-to-end: hash sample + exact driver quantile +
    integer comparison.

    The DEFAULT (``sample_permille=None``) is the bounded path (round-6
    verdict #4): one map-side count sizes the corpus, and a
    parts-per-million sampling fraction is auto-chosen so the driver
    collect stays within ``max_sample_rows`` rows — exact while the
    corpus itself fits the budget, so small-SF semantics are unchanged,
    and a bounded sample above it, so a 10¹⁰-doc corpus never OOMs the
    driver by default.  Passing ``sample_permille=1000`` explicitly is
    the small-scale opt-in for an exact full-corpus quantile at any
    size (explicit permille keeps the original mod-1000 hash buckets
    for back-compat with recorded selections).
    """
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    if max_sample_rows < 1:
        raise ValueError(f"max_sample_rows must be >= 1, got {max_sample_rows}")
    # the weights frame is typically a full DSIR scoring pipeline; the
    # AUTO path consumes it three times (count for the auto sample
    # size, the sample collect, the returned filter).  Pin it once with
    # persist() — (id, n_feats, weight_micro) is ~24B/doc, and unlike
    # localCheckpoint the cached blocks are recomputable from lineage
    # if an executor is lost mid-job.  The explicit-permille path reads
    # it at most twice and stays lazy (no materialization the caller
    # didn't opt into).
    if sample_permille is None:
        weights = weights.persist(StorageLevel.MEMORY_AND_DISK)

    def _bucket(mod: int) -> Column:
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("dsir|"), F.col(id_col).cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % mod
        )

    sample = weights
    if sample_permille is None:
        ppm = _dsir_auto_ppm(weights.count(), max_sample_rows)
        if ppm < 1_000_000:
            sample = weights.where(_bucket(1_000_000) < ppm)
    else:
        if not 1 <= sample_permille <= 1000:
            raise ValueError(
                f"sample_permille must be in [1, 1000], got {sample_permille}"
            )
        if sample_permille < 1000:
            sample = weights.where(_bucket(1000) < sample_permille)
    vals = sorted(
        (r[0] for r in sample.select("weight_micro").collect()),
        reverse=True,
    )
    if not vals:
        return weights  # degenerate sample: keep everything
    n_keep = max(1, int(len(vals) * keep_frac))
    threshold = vals[n_keep - 1]
    return weights.where(F.col("weight_micro") >= F.lit(threshold))
