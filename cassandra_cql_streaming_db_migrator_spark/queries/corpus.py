"""Corpus-governance queries: decontamination, deterministic split/mixing,
normalization + PII redaction + quality gate, sequence packing.

Oracle parity notes (see queries/__init__ for the general rules):
  * all hashes are the polynomial fold from functions.hashing (proven
    bit-reproducible in DuckDB);
  * regex semantics used (character classes, bounded repeats, ``\\b``,
    ``\\s``) behave identically in Java regex and RE2 for ASCII input;
  * DuckDB casts DOUBLE->BIGINT by rounding while Spark truncates — every
    such cast here is over an exactly-representable value (rate tables use
    1/2^k steps), where the two agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import poly_hash_sql
from ..operators.corpus import (
    EMAIL_PATTERN,
    IPV4_PATTERN,
    chunk_documents,
    chunk_documents_sql,
    decontaminate,
    dup_span_census,
    dup_span_length_histogram,
    dup_span_length_histogram_sql,
    dup_span_removal,
    dup_span_removal_sql,
    dsir_importance,
    dsir_importance_sql,
    domain_mix_keep,
    leakage_between,
    length_histogram,
    mixture_weights,
    normalize_text,
    pack_sequences,
    quality_keep,
    quality_metrics,
    rebalance_to_mixture,
    redact_pii,
    sample_per_group,
    split_column,
    systematic_weighted_sample,
)
from ..operators.textops import (
    BPE_TOKEN_PATTERN,
    vocab_growth,
    vocab_growth_sql,
    vocab_head_coverage,
    vocab_head_coverage_sql,
)
from ..session import overlap
from ..sources.parquet import load_table
from . import QueryDef

# ---------------------------------------------------------------------------
# Decontamination: training docs sharing an 8-gram with the benchmark slice
# (doc_id % 20 == 0 stands in for the eval suite).

_NGRAM_LEN = 8


def decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return decontaminate(corpus, bench, ngram_len=_NGRAM_LEN)


_DECONTAMINATE_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             range(len(ws) - {_NGRAM_LEN - 1}),
             i -> array_to_string(
                    array_slice(ws, CAST(i + 1 AS INTEGER),
                                CAST(i + {_NGRAM_LEN} AS INTEGER)), ' ')
         ))) AS gram
  FROM w WHERE len(ws) >= {_NGRAM_LEN}
),
b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0),
c AS (SELECT doc_id, gram FROM g WHERE doc_id % 20 <> 0)
SELECT c.doc_id, count(*) AS n_shared_ngrams
FROM c JOIN b USING (gram)
GROUP BY c.doc_id
"""

def decontaminate_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 8-gram contamination sweep carried to its GOVERNANCE DECISION
    (the dup_span_removal discipline applied to decontamination): the
    per-source purge report a pipeline acts on — how many docs each
    source loses to the benchmark screen and what token mass survives.
    The contaminated id set is the decontaminate operator's output
    (benchmark grams broadcast, corpus never shuffles for the match);
    it is result-scale, so it broadcasts back into the corpus census and
    the report costs one source-grain aggregate on top of the screen.
    Integer ppm, so the purge decision itself hash-checks."""
    from ..operators.corpus import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    cont = decontaminate(corpus, bench, ngram_len=_NGRAM_LEN).select(
        "doc_id", F.lit(1).alias("__hit")
    )
    flagged = corpus.join(F.broadcast(cont), "doc_id", "left")
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_contaminated"),
            F.sum(
                F.when(
                    F.col("__hit").isNull(),
                    F.size(F.split(F.col("text"), " ")),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("tokens_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_contaminated",
            F.expr("1000000 * n_contaminated DIV n_docs").alias("drop_ppm"),
            "tokens_kept",
        )
    )


_DECONTAMINATE_PURGE_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             range(len(ws) - {_NGRAM_LEN - 1}),
             i -> array_to_string(
                    array_slice(ws, CAST(i + 1 AS INTEGER),
                                CAST(i + {_NGRAM_LEN} AS INTEGER)), ' ')
         ))) AS gram
  FROM w WHERE len(ws) >= {_NGRAM_LEN}
),
b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0),
cont AS (
  SELECT DISTINCT c.doc_id
  FROM (SELECT doc_id, gram FROM g WHERE doc_id % 20 <> 0) c
  JOIN b USING (gram)
),
corpus AS (
  SELECT d.doc_id, d.source,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_toks,
         CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM documents d LEFT JOIN cont USING (doc_id)
  WHERE d.doc_id % 20 <> 0
)
SELECT source, count(*) AS n_docs,
       CAST(sum(hit) AS BIGINT) AS n_contaminated,
       CAST(1000000 * sum(hit) // count(*) AS BIGINT) AS drop_ppm,
       CAST(sum(CASE WHEN hit = 0 THEN n_toks ELSE 0 END) AS BIGINT)
         AS tokens_kept
FROM corpus GROUP BY source
"""


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset NOVELTY curve at the 8-gram level — vocab_growth's
    first-seen decomposition applied to the dedup family's gram domain:
    per ``bucket_docs``-sized doc-id prefix, how many distinct 8-grams
    appear for the FIRST time (and the cumulative distinct-gram curve) —
    the corpus-sizing diagnostic for long-range redundancy: a corpus
    whose novelty curve flattens is re-crawling itself, the signal that
    feeds the dedup budget before any pair is computed.

    Scale shape: grams leave the Arrow kernel as packed 61-bit keys
    (the dup_spans discipline; the string-keyed oracle certifies
    collision-freedom), the ONE gram-scale shuffle is the min-first-doc
    census, and every gram charges exactly one bucket — cumulative
    novelty is a running sum over metadata-scale bucket rows, never a
    running distinct set."""
    from pyspark.sql import Window as _W

    from ..operators.corpus import _gram_key_frame

    bucket_docs = 100
    docs = load_table(spark, sf_dir, "documents")
    keys = _gram_key_frame(docs, "text", "doc_id", _NGRAM_LEN)
    bucket_of = lambda c: (c - (c % bucket_docs)).cast("long")
    per_gram = keys.groupBy("gram_key").agg(
        F.min("doc_id").alias("__first_doc")
    )
    new_b = per_gram.groupBy(
        bucket_of(F.col("__first_doc")).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("__new_grams"))
    inc_b = keys.groupBy(bucket_of(F.col("doc_id")).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_doc_grams")
    )
    w = _W.orderBy("bucket").rowsBetween(_W.unboundedPreceding, 0)
    return (
        inc_b.join(new_b, "bucket", "left")
        .select(
            "bucket",
            "n_doc_grams",
            F.coalesce("__new_grams", F.lit(0))
            .cast("long")
            .alias("n_new_grams"),
        )
        .withColumn("cum_grams", F.sum("n_new_grams").over(w))
        .withColumn(
            "novelty_ppm",
            F.expr("1000000 * n_new_grams DIV n_doc_grams"),
        )
    )


_NGRAM_NOVELTY_SQL = f"""
WITH g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             range(len(ws) - {_NGRAM_LEN - 1}),
             i -> array_to_string(
                    array_slice(ws, CAST(i + 1 AS INTEGER),
                                CAST(i + {_NGRAM_LEN} AS INTEGER)), ' ')
         ))) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
  WHERE len(ws) >= {_NGRAM_LEN}
),
per_gram AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram),
nb AS (
  SELECT first_doc - (first_doc % 100) AS bucket, count(*) AS new_grams
  FROM per_gram GROUP BY 1
),
ib AS (
  SELECT doc_id - (doc_id % 100) AS bucket, count(*) AS n_doc_grams
  FROM g GROUP BY 1
)
SELECT CAST(ib.bucket AS BIGINT) AS bucket,
       CAST(ib.n_doc_grams AS BIGINT) AS n_doc_grams,
       CAST(coalesce(nb.new_grams, 0) AS BIGINT) AS n_new_grams,
       CAST(sum(coalesce(nb.new_grams, 0)) OVER (
         ORDER BY ib.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_grams,
       CAST(1000000 * coalesce(nb.new_grams, 0) // ib.n_doc_grams AS BIGINT)
         AS novelty_ppm
FROM ib LEFT JOIN nb ON nb.bucket = ib.bucket
"""


def token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-token BUDGET PLANNER — the allocation step between
    `mixture_weights` (what the corpus IS) and `mixture_rebalance` (what
    to keep): temperature-flattened multinomial sampling (alpha = 1/2,
    the mBERT/XLM-R convention that upweights small sources) over
    per-source token mass, allocated against a fixed training budget,
    with per-source epoch counts in exact ppm — epochs_ppm > 1e6 means
    the source REPEATS (upsampling), the number a data-mixing pipeline
    needs before it schedules a single shard.

    Everything is integer-exact: the temperature weight is
    floor(sqrt(n_tokens)) (sqrt of an int64 < 2^53 is correctly rounded
    on every engine, floor pins it), shares and epochs are integer ppm
    divisions — so even the planner hash-checks.  One source-grain
    aggregate is the only distributed work; the allocation itself is
    source-count rows of driver integer arithmetic (the metadata-scale
    finish contract — Python // on non-negative ints == DuckDB //)."""
    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " ")))
            .cast("long")
            .alias("n_tokens"),
        )
        .collect()
    )
    return _budget_plan_frame(spark, per)


def _budget_plan_frame(spark: SparkSession, per) -> DataFrame:
    """The planner finish shared by the batch and streaming census
    (source-count rows of driver integer arithmetic): per is any
    sequence of rows carrying (source, n_docs, n_tokens)."""
    import math

    weights = {r["source"]: math.isqrt(r["n_tokens"]) for r in per}
    tw = sum(weights.values())
    rows = []
    for r in sorted(per, key=lambda r: r["source"]):
        w = weights[r["source"]]
        share = 1_000_000 * w // tw
        alloc = _TOKEN_BUDGET * w // tw
        rows.append(
            (
                r["source"],
                r["n_docs"],
                r["n_tokens"],
                w,
                share,
                alloc,
                1_000_000 * alloc // r["n_tokens"],
            )
        )
    return spark.createDataFrame(
        rows,
        "source string, n_docs long, n_tokens long, weight long, "
        "target_share_ppm long, alloc_tokens long, epochs_ppm long",
    )


_TOKEN_BUDGET = 100_000

_TOKEN_BUDGET_PLAN_SQL = f"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
w AS (SELECT *, CAST(floor(sqrt(n_tokens)) AS BIGINT) AS weight FROM per),
tot AS (SELECT CAST(sum(weight) AS BIGINT) AS tw FROM w)
SELECT source, n_docs, n_tokens, weight,
       CAST(1000000 * weight // tw AS BIGINT) AS target_share_ppm,
       CAST({_TOKEN_BUDGET} * weight // tw AS BIGINT) AS alloc_tokens,
       CAST(1000000 * ({_TOKEN_BUDGET} * weight // tw) // n_tokens AS BIGINT)
         AS epochs_ppm
FROM w, tot
"""


# ---------------------------------------------------------------------------
# Mixture TEMPERATURE tuning curve — the probe/threshold/bits/beam-curve
# discipline applied to the planner's knob: token_budget_plan fixes
# alpha = 1/2 (the mBERT/XLM-R convention); this sweeps alpha over
# {1, 1/2, 1/4, 0} and shows what each temperature BUYS — how far shares
# flatten toward uniform and how hard small sources upsample
# (epochs_ppm) — the table read before freezing one alpha.  Weights stay
# integer-exact per alpha: n_tokens (alpha=1), isqrt (1/2), nested isqrt
# (1/4 — floor(sqrt(floor(sqrt(n)))), a deterministic integer definition
# both engines compute identically), and 1 (alpha=0, uniform).  ONE
# source-grain aggregate is the only distributed work; all four curve
# legs are source-count rows of driver integer arithmetic (the
# _budget_plan_frame finish contract).

_TEMP_CURVE_ALPHAS = (100, 50, 25, 0)  # alpha in percent


def mixture_temperature_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    docs = load_table(spark, sf_dir, "documents")
    # metadata-scale: per-source census (source-cardinality rows)
    per = (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " ")))
            .cast("long")
            .alias("n_tokens"),
        )
        .collect()
    )

    def weigh(n: int, alpha_pct: int) -> int:
        if alpha_pct == 100:
            return n
        if alpha_pct == 50:
            return math.isqrt(n)
        if alpha_pct == 25:
            return math.isqrt(math.isqrt(n))
        return 1

    rows = []
    for a in _TEMP_CURVE_ALPHAS:
        weights = {r["source"]: weigh(r["n_tokens"], a) for r in per}
        tw = sum(weights.values())
        for r in sorted(per, key=lambda r: r["source"]):
            w = weights[r["source"]]
            alloc = _TOKEN_BUDGET * w // tw
            rows.append(
                (
                    a,
                    r["source"],
                    r["n_docs"],
                    r["n_tokens"],
                    w,
                    1_000_000 * w // tw,
                    alloc,
                    1_000_000 * alloc // r["n_tokens"],
                )
            )
    return spark.createDataFrame(
        rows,
        "alpha_pct int, source string, n_docs long, n_tokens long, "
        "weight long, target_share_ppm long, alloc_tokens long, "
        "epochs_ppm long",
    )


def _mixture_temperature_curve_sql() -> str:
    wexprs = {
        100: "n_tokens",
        50: "CAST(floor(sqrt(n_tokens)) AS BIGINT)",
        25: "CAST(floor(sqrt(CAST(floor(sqrt(n_tokens)) AS BIGINT))) "
            "AS BIGINT)",
        0: "CAST(1 AS BIGINT)",
    }
    legs = []
    for a in _TEMP_CURVE_ALPHAS:
        legs.append(f"""SELECT {a} AS alpha_pct, source, n_docs, n_tokens,
       weight,
       CAST(1000000 * weight // tw AS BIGINT) AS target_share_ppm,
       CAST({_TOKEN_BUDGET} * weight // tw AS BIGINT) AS alloc_tokens,
       CAST(1000000 * ({_TOKEN_BUDGET} * weight // tw) // n_tokens
            AS BIGINT) AS epochs_ppm
FROM (SELECT source, n_docs, n_tokens, {wexprs[a]} AS weight,
             CAST(sum({wexprs[a]}) OVER () AS BIGINT) AS tw
      FROM per) x{a}""")
    union = "\nUNION ALL\n".join(legs)
    return f"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source)
SELECT CAST(alpha_pct AS INTEGER) AS alpha_pct, source, n_docs, n_tokens,
       weight, target_share_ppm, alloc_tokens, epochs_ppm
FROM ({union}) u
"""


# ---------------------------------------------------------------------------
# Deterministic split + domain mixing — per-row hash arithmetic, no shuffle.

_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.125}
_MIX_DEFAULT = 0.75


def split_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "source",
        split_column(F.col("doc_id")).alias("split"),
        domain_mix_keep(
            F.col("doc_id"), F.col("source"), _MIX_RATES, _MIX_DEFAULT
        ).alias("kept"),
    )


def _split_sample_sql() -> str:
    ph = poly_hash_sql("CAST(doc_id AS VARCHAR)")
    ph2 = poly_hash_sql("CAST(doc_id AS VARCHAR) || '#mix' || source")
    rate = "CASE source " + " ".join(
        f"WHEN '{dom}' THEN {r}" for dom, r in _MIX_RATES.items()
    ) + f" ELSE {_MIX_DEFAULT} END"
    return f"""
SELECT doc_id, source,
       CASE WHEN {ph} % 100 < 80 THEN 'train'
            WHEN {ph} % 100 < 90 THEN 'val'
            ELSE 'test' END AS split,
       ({ph2} % 10000) < CAST(({rate}) * 10000 AS BIGINT) AS kept
FROM documents
"""


# ---------------------------------------------------------------------------
# Normalization + PII redaction + quality gate.  Deterministic PII is
# embedded first (email + IPv4 derived from doc_id) so the redaction is
# provably active, then normalize -> metrics -> keep flag.

# Single source of truth: the oracle interpolates the SAME pattern strings
# the Spark operator compiles, so editing one cannot silently break parity.
_EMAIL_SQL = EMAIL_PATTERN
_IPV4_SQL = IPV4_PATTERN


def text_governance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.withColumn(
        "text2",
        F.concat(
            F.lit("Contact user"),
            (F.col("doc_id") % 100).cast("string"),
            F.lit("@example.com from 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0.1 "),
            F.col("text"),
        ),
    )
    norm = normalize_text(redact_pii(F.col("text2")))
    out = seeded.select("doc_id", norm.alias("norm_text")).select(
        "doc_id", "norm_text", *quality_metrics(F.col("norm_text"))
    )
    return out.withColumn(
        "keep",
        quality_keep(
            F.col("n_words"),
            F.col("mean_word_len"),
            F.col("frac_unique_words"),
            F.col("symbol_ratio"),
        ),
    )


_TEXT_GOVERNANCE_SQL = f"""
WITH s AS (
  SELECT doc_id,
         'Contact user' || CAST(doc_id % 100 AS VARCHAR)
           || '@example.com from 10.' || CAST(doc_id % 256 AS VARCHAR)
           || '.0.1 ' || text AS text2
  FROM documents
),
r AS (
  SELECT doc_id,
         trim(regexp_replace(lower(
             regexp_replace(regexp_replace(text2, '{_EMAIL_SQL}', '<EMAIL>', 'g'),
                            '{_IPV4_SQL}', '<IP>', 'g')),
             '\\s+', ' ', 'g')) AS norm_text
  FROM s
),
m AS (
  SELECT doc_id, norm_text,
         len(string_split(norm_text, ' ')) AS n_words,
         round(CAST(length(norm_text) - (len(string_split(norm_text, ' ')) - 1)
                    AS DOUBLE) / len(string_split(norm_text, ' ')), 6) AS mean_word_len,
         round(CAST(len(list_distinct(string_split(norm_text, ' ')))
                    AS DOUBLE) / len(string_split(norm_text, ' ')), 6) AS frac_unique_words,
         round(CAST(length(regexp_replace(norm_text, '[a-z0-9 ]', '', 'g'))
                    AS DOUBLE) / length(norm_text), 6) AS symbol_ratio
  FROM r
)
SELECT doc_id, norm_text, CAST(n_words AS INTEGER) AS n_words,
       mean_word_len, frac_unique_words, symbol_ratio,
       (n_words >= 8 AND n_words <= 100000
        AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
        AND frac_unique_words >= 0.2 AND symbol_ratio <= 0.3) AS keep
FROM m
"""


# ---------------------------------------------------------------------------
# The curation funnel: the whole pipeline's survival table.  Stage drop
# sets are computed corpus-wide by the EXISTING operators (dedup
# decisions are made once, not re-derived per stage — standard practice
# since the filters are independent) and applied cumulatively:
# raw -> exact dedup -> fuzzy dedup -> decontaminate -> quality gate.


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE summary table a curation team maintains — docs, token mass,
    and character mass surviving each pipeline stage, cumulative: the
    training corpus (doc_id % 20 != 0, the decontamination split, PII-
    seeded by pii_redact's fixture convention so the governance stage is
    provably exercised) loses exact duplicates (non-first doc per
    identical text), then fuzzy near-dup non-canonicals (minhash
    components, largest-n_chars canonical — the dedup_canonical rule,
    decided corpus-wide), then benchmark-contaminated docs (the 8-gram
    screen), then runs PII REDACTION over the survivors (VERDICT r11
    ask #5 — the stage drops no docs and whitespace-token mass is
    invariant under placeholder substitution, but character mass moves:
    the n_chars column is the stage's witness, pii_redact's
    chars_before/chars_after discipline folded into the funnel), then
    quality failures (the Gopher-style gate, applied to the REDACTED
    normalized text — the gate never sees a raw address).  Each row:
    stage, docs left, token mass left, char mass left, and the stage's
    incremental doc drop in exact ppm.

    Dedup/decontamination decisions stay computed on the RAW text (the
    content decisions are about content; the seeded PII is fixture
    noise, and this keeps the drop sets shared with the standalone
    dedup queries).  Scale shape: four drop sets from the proven
    operators (each banded / broadcast / one-pass — nothing new
    executes), one flag join at corpus grain, six filtered aggregates;
    the funnel itself is 6 driver rows."""
    from ..operators.caching import materialized
    from ..operators.dedup import (
        canonical_per_component,
        connected_components,
    )
    from .llm import fuzzy_dedup_pairs

    docs = load_table(spark, sf_dir, "documents")
    corpus = _pii_seeded(docs.where(F.col("doc_id") % 20 != 0))
    bench = docs.where(F.col("doc_id") % 20 == 0)

    from pyspark.sql import Window as _W

    # The funnel has two INDEPENDENT heavy halves (guide §2.6): the fuzzy
    # drop set (minhash pairs -> CC round loop -> canonical pick — a
    # driver-paced job chain that leaves executors idle between rounds)
    # and the text-scan legs (exact-dup window, 8-gram decontamination
    # screen, the redaction/quality regex passes).  Run them on two
    # threads — one leg's jobs back-fill the other's driver gaps — and
    # join the two materialized halves in the final one-row aggregate.
    # Composition and values are unchanged; only WHEN the work runs moves
    # (the multimodal_dup_census pattern, OPTIMIZATION_r12.md §5).

    def fuzzy_leg():
        pairs = fuzzy_dedup_pairs(docs, "text", "doc_id")
        comps = connected_components(pairs, "doc_id_1", "doc_id_2")
        keep = canonical_per_component(comps, docs).select(
            F.col("canonical_id").alias("doc_id")
        )
        # result-scale id list; eager so the leg EXECUTES on this thread
        return materialized(
            comps.select("doc_id").join(keep, "doc_id", "left_anti"),
            eager=True,
        )

    def flags_leg():
        e_drop = (
            corpus.withColumn(
                "__rn",
                F.row_number().over(
                    _W.partitionBy("text").orderBy(F.col("doc_id").asc())
                ),
            )
            .where(F.col("__rn") > 1)
            .select("doc_id")
        )
        c_drop = decontaminate(corpus, bench, ngram_len=_NGRAM_LEN).select(
            "doc_id"
        )
        norm = normalize_text(redact_pii(F.col("text2")))
        gated = corpus.select("doc_id", norm.alias("norm_text")).select(
            "doc_id", *quality_metrics(F.col("norm_text"))
        )
        q_drop = gated.where(
            ~quality_keep(
                F.col("n_words"),
                F.col("mean_word_len"),
                F.col("frac_unique_words"),
                F.col("symbol_ratio"),
            )
        ).select("doc_id")
        # corpus-cardinality but NARROW (id + 3 counters + 3 flag ints —
        # the signature-scale materialization budget); eager for overlap
        return materialized(
            corpus.select(
                "doc_id",
                F.size(F.split(F.col("text2"), " ")).cast("long").alias(
                    "__toks"
                ),
                F.length("text2").cast("long").alias("__chars"),
                F.length(redact_pii(F.col("text2"))).cast("long").alias(
                    "__chars_red"
                ),
            )
            .join(e_drop.withColumn("__de", F.lit(1)), "doc_id", "left")
            .join(c_drop.withColumn("__dc", F.lit(1)), "doc_id", "left")
            .join(q_drop.withColumn("__dq", F.lit(1)), "doc_id", "left"),
            eager=True,
        )

    f_drop, flags = overlap(spark, [fuzzy_leg, flags_leg])

    flagged = flags.join(
        f_drop.withColumn("__df", F.lit(1)), "doc_id", "left"
    )
    # (stage_name, cumulative drop flags, char column): pii_redact keeps
    # stage 3's survivor set but switches the char column to the
    # redacted mass — the erasure witness; quality gates on top of it
    stages = [
        ("raw", None, "__chars"),
        ("exact_dedup", ["__de"], "__chars"),
        ("fuzzy_dedup", ["__de", "__df"], "__chars"),
        ("decontaminate", ["__de", "__df", "__dc"], "__chars"),
        ("pii_redact", ["__de", "__df", "__dc"], "__chars_red"),
        ("quality", ["__de", "__df", "__dc", "__dq"], "__chars_red"),
    ]
    # one aggregate computes every stage: conditional sums over the flag
    # frame (single corpus pass), the funnel finish is 6 driver rows
    aggs = []
    for i, (_, flags, char_col) in enumerate(stages):
        cond = F.lit(True)
        for fl in flags or []:
            cond = cond & F.col(fl).isNull()
        aggs.append(
            F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0)))
            .cast("long").alias(f"__n{i}")
        )
        aggs.append(
            F.sum(F.when(cond, F.col("__toks")).otherwise(F.lit(0)))
            .cast("long").alias(f"__t{i}")
        )
        aggs.append(
            F.sum(F.when(cond, F.col(char_col)).otherwise(F.lit(0)))
            .cast("long").alias(f"__c{i}")
        )
    # metadata-scale: 1-row funnel aggregate (6 stages x 3 sums)
    r = flagged.agg(*aggs).collect()[0]
    rows = []
    for i, (name, _, _) in enumerate(stages):
        n, t, c = int(r[f"__n{i}"]), int(r[f"__t{i}"]), int(r[f"__c{i}"])
        if i == 0:
            ppm = 0
        else:
            prev = int(r[f"__n{i - 1}"])
            ppm = 1_000_000 * (prev - n) // prev
        rows.append((i, name, n, t, c, ppm))
    return spark.createDataFrame(
        rows,
        "stage long, stage_name string, n_docs long, n_tokens long, "
        "n_chars long, stage_drop_ppm long",
    )


def _curation_funnel_sql() -> str:
    from .llm import _dedup_components_sql

    return f"""
WITH comps AS (SELECT * FROM ({_dedup_components_sql()}) x),
edrop AS (
  SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (PARTITION BY text
                                      ORDER BY doc_id) AS rn
    FROM documents WHERE doc_id % 20 <> 0) e
  WHERE rn > 1
),
fdrop AS (
  SELECT doc_id FROM (
    SELECT c.doc_id,
           row_number() OVER (PARTITION BY c.component_id
                              ORDER BY d.n_chars DESC, c.doc_id ASC) AS rk
    FROM comps c JOIN documents d USING (doc_id)) j
  WHERE rk > 1
),
w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             range(len(ws) - {_NGRAM_LEN - 1}),
             i -> array_to_string(
                    array_slice(ws, CAST(i + 1 AS INTEGER),
                                CAST(i + {_NGRAM_LEN} AS INTEGER)), ' ')
         ))) AS gram
  FROM w WHERE len(ws) >= {_NGRAM_LEN}
),
bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0),
cdrop AS (
  SELECT DISTINCT c.doc_id
  FROM (SELECT doc_id, gram FROM g WHERE doc_id % 20 <> 0) c
  JOIN bg USING (gram)
),
sd AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 3 = 0
               THEN 'mail user' || CAST(doc_id % 100 AS VARCHAR)
                    || '@example.com ' ELSE '' END)
         || (CASE WHEN doc_id % 5 = 0
                  THEN 'from 10.' || CAST(doc_id % 256 AS VARCHAR)
                       || '.0.1 ' ELSE '' END)
         || text AS text2
  FROM documents WHERE doc_id % 20 <> 0
),
nrm AS (
  SELECT doc_id,
         trim(regexp_replace(lower(
             regexp_replace(regexp_replace(text2, '{_EMAIL_SQL}', '<EMAIL>', 'g'),
                            '{_IPV4_SQL}', '<IP>', 'g')),
             '\\s+', ' ', 'g')) AS norm_text
  FROM sd
),
qm AS (
  SELECT doc_id,
         len(string_split(norm_text, ' ')) AS n_words,
         round(CAST(length(norm_text) - (len(string_split(norm_text, ' ')) - 1)
                    AS DOUBLE) / len(string_split(norm_text, ' ')), 6)
           AS mean_word_len,
         round(CAST(len(list_distinct(string_split(norm_text, ' ')))
                    AS DOUBLE) / len(string_split(norm_text, ' ')), 6)
           AS frac_unique_words,
         round(CAST(length(regexp_replace(norm_text, '[a-z0-9 ]', '', 'g'))
                    AS DOUBLE) / length(norm_text), 6) AS symbol_ratio
  FROM nrm
),
qdrop AS (
  SELECT doc_id FROM qm
  WHERE NOT (n_words >= 8 AND n_words <= 100000
             AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
             AND frac_unique_words >= 0.2 AND symbol_ratio <= 0.3)
),
base AS (
  SELECT d.doc_id,
         CAST(len(string_split(d.text2, ' ')) AS BIGINT) AS n_toks,
         CAST(length(d.text2) AS BIGINT) AS n_chars,
         CAST(length(
             regexp_replace(
               regexp_replace(d.text2, '{_EMAIL_SQL}', '<EMAIL>', 'g'),
               '{_IPV4_SQL}', '<IP>', 'g')) AS BIGINT) AS n_chars_red,
         CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS de,
         CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END AS df,
         CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS dc,
         CASE WHEN q.doc_id IS NOT NULL THEN 1 ELSE 0 END AS dq
  FROM sd d
  LEFT JOIN edrop e ON e.doc_id = d.doc_id
  LEFT JOIN fdrop f ON f.doc_id = d.doc_id
  LEFT JOIN cdrop c ON c.doc_id = d.doc_id
  LEFT JOIN qdrop q ON q.doc_id = d.doc_id
),
funnel AS (
  SELECT 0 AS stage, 'raw' AS stage_name,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         CAST(sum(n_chars) AS BIGINT) AS n_chars FROM base
  UNION ALL
  SELECT 1, 'exact_dedup', CAST(count(*) AS BIGINT),
         CAST(sum(n_toks) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
  FROM base WHERE de = 0
  UNION ALL
  SELECT 2, 'fuzzy_dedup', CAST(count(*) AS BIGINT),
         CAST(sum(n_toks) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
  FROM base WHERE de = 0 AND df = 0
  UNION ALL
  SELECT 3, 'decontaminate', CAST(count(*) AS BIGINT),
         CAST(sum(n_toks) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
  FROM base WHERE de = 0 AND df = 0 AND dc = 0
  UNION ALL
  SELECT 4, 'pii_redact', CAST(count(*) AS BIGINT),
         CAST(sum(n_toks) AS BIGINT), CAST(sum(n_chars_red) AS BIGINT)
  FROM base WHERE de = 0 AND df = 0 AND dc = 0
  UNION ALL
  SELECT 5, 'quality', CAST(count(*) AS BIGINT),
         CAST(sum(n_toks) AS BIGINT), CAST(sum(n_chars_red) AS BIGINT)
  FROM base WHERE de = 0 AND df = 0 AND dc = 0 AND dq = 0
)
SELECT CAST(stage AS BIGINT) AS stage, stage_name, n_docs, n_tokens,
       n_chars,
       CAST(coalesce(
         1000000 * (lag(n_docs) OVER (ORDER BY stage) - n_docs)
           // lag(n_docs) OVER (ORDER BY stage), 0) AS BIGINT)
         AS stage_drop_ppm
FROM funnel
"""


# ---------------------------------------------------------------------------
# Sequence packing: per-partition running token offsets -> chunk ids.

_PACK_BUDGET = 512
_PACK_PARTS = 16


def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(
        docs,
        token_count=F.regexp_count(F.col("text"), F.lit(BPE_TOKEN_PATTERN)),
        part_col=F.col("doc_id") % _PACK_PARTS,
        order_col="doc_id",
        budget=_PACK_BUDGET,
    )


_SEQUENCE_PACK_SQL = f"""
WITH t AS (
  SELECT doc_id % {_PACK_PARTS} AS pack_part, doc_id,
         CAST(len(regexp_extract_all(text, '{BPE_TOKEN_PATTERN}')) AS BIGINT)
           AS n_tokens
  FROM documents
),
o AS (
  SELECT pack_part, n_tokens,
         sum(n_tokens) OVER (PARTITION BY pack_part ORDER BY doc_id)
           - n_tokens AS off
  FROM t
)
SELECT pack_part, CAST(off // {_PACK_BUDGET} AS BIGINT) AS chunk_id,
       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS chunk_tokens
FROM o
GROUP BY pack_part, chunk_id
"""


# ---------------------------------------------------------------------------
# Shard manifest — the step AFTER sequence_pack: assign the packed chunks to
# fixed-token-budget output shards and emit the manifest a training loader
# reads (shard -> chunks/docs/token mass/which pack parts it spans).
# HIERARCHICAL on purpose (the 100 TB shape): within-part chunk offsets are
# a PARTITIONED window (distributed — chunk grain is corpus-derived and too
# big for one partition at scale), part base offsets are a parts-scale
# cumsum (16 rows), and the global offset is their sum.  A chunk is
# assigned to the shard its START offset lands in — manifest semantics, not
# bin packing (a chunk never splits).

_SHARD_BUDGET = 4 * _PACK_BUDGET  # ~4 packed chunks per output shard


def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per output shard: chunk count, doc count, token mass, and the
    span of pack parts it draws from.  Built from sequence_pack's chunk
    table by the hierarchical offset trick above — no global window ever
    sees chunk-grain rows."""
    from pyspark.sql import Window as _W

    docs = load_table(spark, sf_dir, "documents")
    chunks = pack_sequences(
        docs,
        token_count=F.regexp_count(F.col("text"), F.lit(BPE_TOKEN_PATTERN)),
        part_col=F.col("doc_id") % _PACK_PARTS,
        order_col="doc_id",
        budget=_PACK_BUDGET,
    )
    w_in = (
        _W.partitionBy("pack_part")
        .orderBy("chunk_id")
        .rowsBetween(_W.unboundedPreceding, _W.currentRow)
    )
    within = chunks.withColumn(
        "__off_in",
        F.sum("chunk_tokens").over(w_in) - F.col("chunk_tokens"),
    )
    totals = chunks.groupBy("pack_part").agg(
        F.sum("chunk_tokens").alias("__part_tokens")
    )
    w_parts = (
        _W.orderBy("pack_part")
        .rowsBetween(_W.unboundedPreceding, _W.currentRow)
    )
    base = totals.withColumn(
        "__base",
        F.sum("__part_tokens").over(w_parts) - F.col("__part_tokens"),
    ).select("pack_part", "__base")
    # integer DIV, not double `/`: past ~2^52 total tokens a double
    # quotient rounds and can place a chunk one shard off the oracle's
    # exact `//` (ADVICE r11 #3) — DIV on longs is exact at any magnitude
    placed = within.join(F.broadcast(base), "pack_part").withColumn(
        "shard_id",
        F.expr(f"(__base + __off_in) DIV {_SHARD_BUDGET}"),
    )
    return placed.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("chunk_tokens").alias("shard_tokens"),
        F.min("pack_part").alias("first_part"),
        F.max("pack_part").alias("last_part"),
    )


_SHARD_MANIFEST_SQL = f"""
WITH t AS (
  SELECT doc_id % {_PACK_PARTS} AS pack_part, doc_id,
         CAST(len(regexp_extract_all(text, '{BPE_TOKEN_PATTERN}')) AS BIGINT)
           AS n_tokens
  FROM documents
),
o AS (
  SELECT pack_part, n_tokens,
         sum(n_tokens) OVER (PARTITION BY pack_part ORDER BY doc_id)
           - n_tokens AS off
  FROM t
),
chunks AS (
  SELECT pack_part, CAST(off // {_PACK_BUDGET} AS BIGINT) AS chunk_id,
         count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS chunk_tokens
  FROM o
  GROUP BY pack_part, chunk_id
),
within AS (
  SELECT *,
         sum(chunk_tokens) OVER (PARTITION BY pack_part ORDER BY chunk_id)
           - chunk_tokens AS off_in
  FROM chunks
),
base AS (
  SELECT pack_part,
         sum(part_tokens) OVER (ORDER BY pack_part) - part_tokens AS base
  FROM (SELECT pack_part, sum(chunk_tokens) AS part_tokens
        FROM chunks GROUP BY pack_part) pt
)
SELECT CAST((b.base + w.off_in) // {_SHARD_BUDGET} AS BIGINT) AS shard_id,
       count(*) AS n_chunks,
       CAST(sum(w.n_docs) AS BIGINT) AS n_docs,
       CAST(sum(w.chunk_tokens) AS BIGINT) AS shard_tokens,
       min(w.pack_part) AS first_part,
       max(w.pack_part) AS last_part
FROM within w JOIN base b USING (pack_part)
GROUP BY shard_id
"""


# ---------------------------------------------------------------------------
# Embedding int8 quantization stats — the compression pass before an ANN
# index stores the corpus.  Per-row pure; oracle reproduces the sequential
# double fold exactly via list_reduce.


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import quantize_embeddings

    return quantize_embeddings(load_table(spark, sf_dir, "embeddings"))


# rounding is floor(x + 0.5) on purpose: floor is the same exact IEEE op in
# DuckDB, Catalyst and numpy, while round() semantics differ across the
# three — see operators.similarity.quantize_embeddings
_ERR = "(x - floor(x / safe + 0.5) * safe)"
_EMBEDDING_QUANTIZE_SQL = f"""
WITH d AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
s AS (
  SELECT vec_id, e, scale,
         CASE WHEN scale = 0.0 THEN 1.0 ELSE scale END AS safe
  FROM (
    SELECT vec_id, e,
           list_aggregate(list_transform(e, x -> abs(x)), 'max') / 127.0 AS scale
    FROM d
  )
)
SELECT vec_id,
       scale,
       list_aggregate(
           list_transform(e, x -> abs{_ERR}), 'max') AS max_abs_err,
       list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
                        list_transform(e, x -> {_ERR} * {_ERR})),
           (a, b) -> a + b) / len(e) AS mse
FROM s
"""


# ---------------------------------------------------------------------------
# Mixture derivation (the recipe-producing complement of split_sample's
# domain_mix_keep) and corpus length profile.


def mixture_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mixture_weights(load_table(spark, sf_dir, "documents"))


_MIXTURE_WEIGHTS_SQL = """
WITH per AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_size,
         CAST(floor(sqrt(CAST(sum(n_chars) AS DOUBLE)) * 1000000.0) AS BIGINT) AS w
  FROM documents GROUP BY source
)
SELECT source, n_docs, sum_size,
       round(CAST(w AS DOUBLE) / sum(w) OVER (), 6) AS weight
FROM per
"""


def length_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return length_histogram(load_table(spark, sf_dir, "documents"))


_LENGTH_HISTOGRAM_SQL = """
SELECT CAST(least(greatest(floor(n_chars / 100), 0), 19) AS INTEGER) AS bucket,
       count(*) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS min_size,
       CAST(max(n_chars) AS BIGINT) AS max_size,
       CAST(sum(n_chars) AS BIGINT) AS sum_size
FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Deterministic per-stratum sampling and train/test split-leakage.

_SAMPLE_K = 25
_LEAK_NGRAM_LEN = 5


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sample_per_group(docs, ["source"], _SAMPLE_K).select(
        "doc_id", "source", "sample_rank"
    )


def _stratified_sample_sql() -> str:
    ph = poly_hash_sql("CAST(doc_id AS VARCHAR) || '#sample'")
    return f"""
WITH h AS (SELECT doc_id, source, {ph} AS hv FROM documents),
r AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (PARTITION BY source ORDER BY hv, doc_id)
              AS INTEGER) AS sample_rank
  FROM h
)
SELECT doc_id, source, sample_rank FROM r WHERE sample_rank <= {_SAMPLE_K}
"""


def split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "split", split_column(F.col("doc_id"))
    )
    return leakage_between(
        docs.where(F.col("split") == "test"),
        docs.where(F.col("split") == "train"),
        ngram_len=_LEAK_NGRAM_LEN,
    )


def _split_leakage_sql() -> str:
    ph = poly_hash_sql("CAST(doc_id AS VARCHAR)")
    n = _LEAK_NGRAM_LEN
    return f"""
WITH s AS (
  SELECT doc_id, text,
         CASE WHEN {ph} % 100 < 80 THEN 'train'
              WHEN {ph} % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
w AS (SELECT doc_id, split, string_split(text, ' ') AS ws FROM s),
g AS (
  SELECT doc_id, split,
         unnest(list_distinct(list_transform(
             range(len(ws) - {n - 1}),
             i -> array_to_string(
                    array_slice(ws, CAST(i + 1 AS INTEGER),
                                CAST(i + {n} AS INTEGER)), ' ')
         ))) AS gram
  FROM w WHERE len(ws) >= {n}
),
b AS (SELECT DISTINCT gram FROM g WHERE split = 'train'),
c AS (SELECT doc_id, gram FROM g WHERE split = 'test')
SELECT c.doc_id, count(*) AS n_shared_ngrams
FROM c JOIN b USING (gram)
GROUP BY c.doc_id
"""


# ---------------------------------------------------------------------------
# Mixture rebalance: APPLY the temperature-scaled mixture (mixture_weights
# derives it) — exact-integer quotas at the largest feasible total, docs
# kept in salted-hash order.


def mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return rebalance_to_mixture(docs)


def _mixture_rebalance_sql() -> str:
    h = poly_hash_sql("CAST(doc_id AS VARCHAR) || '#rebal'")
    return f"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_size,
         CAST(floor(sqrt(CAST(sum(n_chars) AS DOUBLE)) * 1000000.0) AS BIGINT)
           AS w
  FROM documents GROUP BY source
),
tot AS (SELECT *, sum(w) OVER () AS tw FROM per),
fea AS (SELECT *, min(CAST(n_docs AS HUGEINT) * tw // w) OVER () AS t FROM tot),
q AS (SELECT *, CAST(t * w // tw AS BIGINT) AS quota FROM fea),
ranked AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY {h}, doc_id) AS rn
  FROM documents
),
kept AS (
  SELECT r.source, count(*) AS n_kept, CAST(sum(r.n_chars) AS BIGINT) AS kept_size
  FROM ranked r JOIN q ON r.source = q.source
  WHERE r.rn <= q.quota GROUP BY r.source
)
SELECT q.source, q.n_docs, q.quota,
       coalesce(k.n_kept, 0) AS n_kept,
       coalesce(k.kept_size, 0) AS kept_size,
       round(CAST(q.w AS DOUBLE) / q.tw, 6) AS target_w,
       round(CAST(k.n_kept AS DOUBLE) / (sum(k.n_kept) OVER ()), 6)
         AS achieved_w
FROM q LEFT JOIN kept k ON q.source = k.source
"""


# ---------------------------------------------------------------------------
# PII incidence report: per-source counts of documents carrying emails /
# IPv4 addresses and the total match count — the audit a privacy review
# runs BEFORE redaction (text_governance is the redaction itself).
# Deterministic PII is embedded on doc_id-derived subsets (every 3rd doc an
# email, every 5th an IP) so the counting is provably exercised.


def _pii_seeded(docs: DataFrame) -> DataFrame:
    """The deterministic synthetic-PII seeding shared by pii_stats and
    pii_redact (the fixture text carries no natural PII): every third doc
    gets an email, every fifth an IPv4, both id-derived."""
    return docs.withColumn(
        "text2",
        F.concat(
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit("mail user"),
                    (F.col("doc_id") % 100).cast("string"),
                    F.lit("@example.com "),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit("from 10."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".0.1 "),
                ),
            ).otherwise(F.lit("")),
            F.col("text"),
        ),
    )


def pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    seeded = _pii_seeded(load_table(spark, sf_dir, "documents"))
    n_email = F.regexp_count(F.col("text2"), F.lit(EMAIL_PATTERN))
    n_ip = F.regexp_count(F.col("text2"), F.lit(IPV4_PATTERN))
    return seeded.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((n_email > 0).cast("long")).alias("n_email_docs"),
        F.sum((n_ip > 0).cast("long")).alias("n_ip_docs"),
        F.sum(n_email + n_ip).alias("n_pii_matches"),
    )


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pii_stats taken to its ACTION (the census->action discipline
    applied to governance): REDACT the detected PII — emails to
    ``<EMAIL>``, IPv4s to ``<IP>`` — and emit the per-source erasure
    proof a compliance pipeline reads: docs, matches replaced per kind,
    character mass before/after (every replacement moves it, so the
    sums witness the transform byte-exactly), and the RESIDUAL count of
    docs still matching either pattern after redaction — the column
    that must read zero, decontaminate_purge's prove-deletion-happened
    discipline on the text plane.

    Reference analog: computed-column rewrite before the sink (P3,
    DataMigrationProcess.java:283-292) — a per-row pure transform, which
    is exactly why it scales: one narrow projection, one source-grain
    aggregate, no shuffle beyond the census.

    Both engines replace ALL matches (Spark regexp_replace is global;
    the oracle passes DuckDB's 'g' flag) in the same order (emails
    first, then IPs — the replacement tokens cannot create new
    matches)."""
    seeded = _pii_seeded(load_table(spark, sf_dir, "documents"))
    n_email = F.regexp_count(F.col("text2"), F.lit(EMAIL_PATTERN))
    n_ip = F.regexp_count(F.col("text2"), F.lit(IPV4_PATTERN))
    red = F.regexp_replace(
        F.regexp_replace(F.col("text2"), EMAIL_PATTERN, "<EMAIL>"),
        IPV4_PATTERN,
        "<IP>",
    )
    redacted = seeded.select(
        "source", "text2", n_email.alias("ne"), n_ip.alias("ni"),
        red.alias("red"),
    )
    residual = (
        (F.regexp_count(F.col("red"), F.lit(EMAIL_PATTERN)) > 0)
        | (F.regexp_count(F.col("red"), F.lit(IPV4_PATTERN)) > 0)
    ).cast("long")
    return redacted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ne").alias("emails_redacted"),
        F.sum("ni").alias("ips_redacted"),
        F.sum(F.length("text2")).alias("chars_before"),
        F.sum(F.length("red")).alias("chars_after"),
        F.sum(residual).alias("n_residual_docs"),
    )


_PII_STATS_SQL = f"""
WITH s AS (
  SELECT source,
         (CASE WHEN doc_id % 3 = 0
               THEN 'mail user' || CAST(doc_id % 100 AS VARCHAR)
                    || '@example.com ' ELSE '' END)
         || (CASE WHEN doc_id % 5 = 0
                  THEN 'from 10.' || CAST(doc_id % 256 AS VARCHAR)
                       || '.0.1 ' ELSE '' END)
         || text AS text2
  FROM documents
),
m AS (
  SELECT source,
         len(regexp_extract_all(text2, '{_EMAIL_SQL}')) AS ne,
         len(regexp_extract_all(text2, '{_IPV4_SQL}')) AS ni
  FROM s
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN ne > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_email_docs,
       CAST(sum(CASE WHEN ni > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ip_docs,
       CAST(sum(ne + ni) AS BIGINT) AS n_pii_matches
FROM m
GROUP BY source
"""


_PII_REDACT_SQL = f"""
WITH s AS (
  SELECT source,
         (CASE WHEN doc_id % 3 = 0
               THEN 'mail user' || CAST(doc_id % 100 AS VARCHAR)
                    || '@example.com ' ELSE '' END)
         || (CASE WHEN doc_id % 5 = 0
                  THEN 'from 10.' || CAST(doc_id % 256 AS VARCHAR)
                       || '.0.1 ' ELSE '' END)
         || text AS text2
  FROM documents
),
r AS (
  SELECT source, text2,
         len(regexp_extract_all(text2, '{_EMAIL_SQL}')) AS ne,
         len(regexp_extract_all(text2, '{_IPV4_SQL}')) AS ni,
         regexp_replace(
           regexp_replace(text2, '{_EMAIL_SQL}', '<EMAIL>', 'g'),
           '{_IPV4_SQL}', '<IP>', 'g') AS red
  FROM s
)
SELECT source, count(*) AS n_docs,
       CAST(sum(ne) AS BIGINT) AS emails_redacted,
       CAST(sum(ni) AS BIGINT) AS ips_redacted,
       CAST(sum(len(text2)) AS BIGINT) AS chars_before,
       CAST(sum(len(red)) AS BIGINT) AS chars_after,
       CAST(sum(CASE WHEN len(regexp_extract_all(red, '{_EMAIL_SQL}')) > 0
                       OR len(regexp_extract_all(red, '{_IPV4_SQL}')) > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_residual_docs
FROM r
GROUP BY source
"""


# natural-language defaults; on the fixtures' 31-word vocabulary the
# k=100/1000 rows exercise the k-beyond-vocab full-coverage contract
_HEAD_COVERAGE_KS = (10, 100, 1000)


def head_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vocab_head_coverage(
        load_table(spark, sf_dir, "documents"), ks=_HEAD_COVERAGE_KS
    )


# ---------------------------------------------------------------------------
# RAG chunking: overlapping token windows per document (narrow, no shuffle).
# Window/stride sized to the fixtures' ~50-word docs so multi-chunk docs
# exist at every SF; real deployments use 256-1024-token windows.

_CHUNK_WINDOW, _CHUNK_STRIDE = 32, 24


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_documents(
        load_table(spark, sf_dir, "documents"),
        window=_CHUNK_WINDOW, stride=_CHUNK_STRIDE,
    )


_DOC_CHUNKS_SQL = chunk_documents_sql(
    "documents", window=_CHUNK_WINDOW, stride=_CHUNK_STRIDE
)


# ---------------------------------------------------------------------------
# DSIR-shaped importance weighting: hashed-unigram domain likeness of every
# document vs a target-domain subset (operator docstring in
# operators/corpus.py has the fixed-point formulation).

_DSIR_TARGET_SOURCES = ("src0", "src1")


def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dsir_importance(
        docs, target=F.col("source").isin(*_DSIR_TARGET_SOURCES)
    )


_DSIR_SQL = dsir_importance_sql(
    "source IN ('src0', 'src1')"
)


# ---------------------------------------------------------------------------
# Systematic weighted sampling: n=100 deterministic draws proportional to
# n_chars.  The oracle mirrors the closed-form probe count over a single
# global cumsum (fine at oracle scale); the Spark side runs the two-phase
# partitioned prefix sum.  Every window sum is cast back to BIGINT (DuckDB
# widens to HUGEINT).

_WS_N = 100


def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return systematic_weighted_sample(
        docs,
        weight_col=F.col("n_chars"),
        part_col=F.col("source"),
        order_col="doc_id",
        n=_WS_N,
    )


_WEIGHTED_SAMPLE_SQL = f"""
WITH base AS (
  SELECT source AS sw_part, doc_id, CAST(n_chars AS BIGINT) AS wt
  FROM documents
),
cum AS (
  SELECT doc_id, wt,
         CAST(sum(wt) OVER (ORDER BY sw_part, doc_id) AS BIGINT) AS hi
  FROM base
),
tot AS (SELECT CAST(sum(wt) AS BIGINT) AS sw_w FROM base)
SELECT doc_id, wt, n_hits FROM (
  SELECT doc_id, wt,
    (CASE WHEN hi <= 0 THEN CAST(0 AS BIGINT)
          ELSE least(CAST({_WS_N} AS BIGINT),
                     ((CAST({2 * _WS_N} AS BIGINT) * hi - 1) // sw_w + 1) // 2)
     END
     -
     CASE WHEN hi - wt <= 0 THEN CAST(0 AS BIGINT)
          ELSE least(CAST({_WS_N} AS BIGINT),
                     ((CAST({2 * _WS_N} AS BIGINT) * (hi - wt) - 1) // sw_w + 1) // 2)
     END) AS n_hits
  FROM cum CROSS JOIN tot
) hits
WHERE n_hits > 0
"""


# ---------------------------------------------------------------------------
# Exact repeated-span census (substring-level dedup signal): docs whose
# 15-word windows recur in other documents, with the duplicated fraction
# in exact ppm.

_SPAN_LEN = 15


def dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs carrying at least one duplicated ``_SPAN_LEN``-word span
    (operators.corpus.dup_span_census, Lee-et-al-style exact substring
    dedup).  The Spark side censuses packed 61-bit span keys; the oracle
    re-derives the same report from span STRINGS, so a driver pass also
    certifies the hash key admits no collisions on this corpus."""
    docs = load_table(spark, sf_dir, "documents")
    report = dup_span_census(docs, span_len=_SPAN_LEN)
    # no ORDER BY: the report is doc-scale and unbounded — a global sort
    # here would be the only data-scale full sort in the engine, bought
    # purely for presentation (the driver's value hash is order-
    # insensitive; the oracle keeps its ORDER BY for human diffing only)
    return report.where(F.col("n_dup_spans") > 0)


_DUP_SPANS_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             range(len(ws) - {_SPAN_LEN - 1}),
             i -> array_to_string(
                    array_slice(ws, CAST(i + 1 AS INTEGER),
                                CAST(i + {_SPAN_LEN} AS INTEGER)), ' ')
         ))) AS gram
  FROM w WHERE len(ws) >= {_SPAN_LEN}
),
dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
per_doc AS (SELECT doc_id, count(*) AS n_spans FROM g GROUP BY 1),
dupdoc AS (
  SELECT doc_id, count(*) AS n_dup FROM g JOIN dup USING (gram) GROUP BY 1
)
SELECT p.doc_id, p.n_spans, d.n_dup AS n_dup_spans,
       1000000 * d.n_dup // p.n_spans AS dup_ppm
FROM per_doc p JOIN dupdoc d USING (doc_id)
ORDER BY p.doc_id
"""


def dup_span_removal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The census carried to its DECISION (VERDICT r05 ask #3): excise
    every >=2-occurrence 15-word window and return the cleaned corpus
    with its removal census (operators.corpus.dup_span_removal).  The
    Spark side works on packed 61-bit span keys; the oracle re-derives
    removal from span STRINGS, so a driver pass certifies key
    collision-freedom AND the coverage geometry end to end."""
    return dup_span_removal(
        load_table(spark, sf_dir, "documents"), span_len=_SPAN_LEN
    )


def dup_span_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level histogram of maximal MERGED duplicated-span lengths
    (operators.corpus.dup_span_length_histogram, VERDICT r07 ask #7):
    overlapping duplicated windows fold into maximal runs via a pure
    Catalyst aggregate over each doc's starts array — the text is never
    joined — and the census reports how long the excised substrings
    actually are (Lee et al. remove maximal substrings, so span-length
    mass is the removal's audit)."""
    return dup_span_length_histogram(
        load_table(spark, sf_dir, "documents"), span_len=_SPAN_LEN
    )


def vocab_growth_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth in 100-doc prefix buckets
    (operators.textops.vocab_growth): cumulative tokens + cumulative
    distinct vocabulary WITHOUT a running distinct set — each word
    charges its first-appearance bucket (the user_growth first-seen
    decomposition on the word domain)."""
    return vocab_growth(load_table(spark, sf_dir, "documents"))


def quality_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum construction at corpus scale: every doc gets an exact
    integer quality score (distinct-word fraction in ppm over the
    normalized text — the Gopher repetition signal), the corpus splits
    into 5 curriculum phases by distributed_ntile over (score, doc_id)
    (phase 1 = most repetitive/lowest quality, trained first in an
    easy-to-hard schedule), and the report gives each phase's size, token
    budget, and score range.  The ntile is the range-partition + offset-
    broadcast operator — corpus-scale curriculum assignment with no
    single-partition sort; the per-doc scoring is one narrow projection.
    """
    from ..operators.windows import distributed_ntile

    docs = load_table(spark, sf_dir, "documents")
    # materialize the normalized word array ONCE (operators.corpus.
    # normalize_text is the single definition); n_words and score derive
    # from the same array, so they can never disagree on tokenization
    words = docs.select(
        "doc_id", F.split(normalize_text(F.col("text")), " ").alias("__w")
    )
    scored = words.select(
        "doc_id",
        F.size("__w").cast("long").alias("__n_words"),
        F.expr(
            "1000000 * size(array_distinct(__w)) DIV size(__w)"
        ).alias("score_ppm"),
    )
    phased = distributed_ntile(
        scored,
        5,
        [F.col("score_ppm").asc(), F.col("doc_id").asc()],
        bucket_alias="phase",
    )
    return phased.groupBy("phase").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__n_words").alias("n_tokens"),
        F.min("score_ppm").alias("min_score_ppm"),
        F.max("score_ppm").alias("max_score_ppm"),
    )


_QUALITY_CURRICULUM_SQL = """
WITH scored AS (
  SELECT doc_id,
         CAST(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                                                   'g')), ' ')) AS BIGINT)
           AS n_words,
         1000000 * CAST(len(list_distinct(string_split(trim(regexp_replace(
                     lower(text), '\\s+', ' ', 'g')), ' '))) AS BIGINT)
           // len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                                                   'g')), ' '))
           AS score_ppm
  FROM documents
),
phased AS (
  SELECT *, CAST(ntile(5) OVER (ORDER BY score_ppm ASC, doc_id ASC)
                 AS BIGINT) AS phase
  FROM scored
)
SELECT phase, count(*) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS n_tokens,
       min(score_ppm) AS min_score_ppm,
       max(score_ppm) AS max_score_ppm
FROM phased GROUP BY 1
"""


QUERIES = [
    QueryDef(
        "quality_curriculum", quality_curriculum, _QUALITY_CURRICULUM_SQL,
        "easy-to-hard curriculum phases by quality-score distributed_ntile "
        "(corpus-scale, no single-partition sort)",
    ),
    QueryDef(
        "curation_funnel", curation_funnel, _curation_funnel_sql(),
        "the whole pipeline's survival table: raw -> exact dedup -> "
        "fuzzy dedup -> decontaminate -> quality, docs + token mass + "
        "per-stage drop ppm, cumulative",
    ),
    QueryDef(
        "vocab_growth", vocab_growth_q, vocab_growth_sql(),
        "Heaps-law vocabulary-growth curve via first-seen decomposition "
        "(no running distinct set)",
    ),
    QueryDef(
        "dup_spans", dup_spans, _DUP_SPANS_SQL,
        "exact repeated-span census (Lee-et-al substring dedup signal): "
        "packed 61-bit span keys, string-keyed oracle",
    ),
    QueryDef(
        "dup_span_removal", dup_span_removal_q,
        dup_span_removal_sql(span_len=_SPAN_LEN),
        "ExactSubstr span removal: duplicated 15-word windows excised, "
        "cleaned corpus + removal census incl. merged-interval stats "
        "(n_spans, max_span_len; string-keyed oracle)",
    ),
    QueryDef(
        "dup_span_histogram", dup_span_histogram_q,
        dup_span_length_histogram_sql(span_len=_SPAN_LEN),
        "histogram of maximal merged duplicated-span lengths: Catalyst "
        "fold over starts arrays, gaps-and-islands oracle",
    ),
    QueryDef(
        "weighted_sample",
        weighted_sample,
        _WEIGHTED_SAMPLE_SQL,
        "systematic inverse-CDF weighted sample (exact-n draws, "
        "closed-form integer probe counts, two-phase prefix sum)",
    ),
    QueryDef(
        "dsir_weights", dsir_weights, _DSIR_SQL,
        "DSIR-shaped importance weights: hashed-unigram domain likeness, "
        "fixed-size broadcastable feature table",
    ),
    QueryDef(
        "doc_chunks", doc_chunks, _DOC_CHUNKS_SQL,
        "RAG chunking: overlapping token windows + chunk fingerprints "
        "(narrow, zero-shuffle)",
    ),
    QueryDef(
        "head_coverage",
        head_coverage,
        vocab_head_coverage_sql("documents", ks=_HEAD_COVERAGE_KS),
        "Zipf-head report: corpus-token coverage of the top-k vocabulary",
    ),
    QueryDef(
        "pii_stats", pii_stats, _PII_STATS_SQL,
        "per-source PII incidence audit (emails / IPv4, match counts)",
    ),
    QueryDef(
        "pii_redact", pii_redact, _PII_REDACT_SQL,
        "pii_stats taken to its action: global email/IP redaction with "
        "the per-source erasure proof (char mass before/after, residual "
        "matches must be zero)",
    ),
    QueryDef(
        "shard_manifest", shard_manifest, _SHARD_MANIFEST_SQL,
        "training-shard manifest over the packed chunks: hierarchical "
        "offsets (partitioned within-part window + parts-scale base) "
        "assign chunks to fixed-token shards without a global "
        "chunk-grain window",
    ),
    QueryDef(
        "mixture_rebalance", mixture_rebalance, _mixture_rebalance_sql(),
        "apply the derived domain mixture: exact-integer quotas + hash-order keep",
    ),
    QueryDef(
        "decontaminate",
        decontaminate_q,
        _DECONTAMINATE_SQL,
        "benchmark n-gram contamination sweep (broadcast benchmark grams)",
    ),
    QueryDef(
        "token_budget_plan",
        token_budget_plan,
        _TOKEN_BUDGET_PLAN_SQL,
        "training-token budget planner: sqrt-temperature mixture, integer "
        "ppm shares + per-source epoch counts",
    ),
    QueryDef(
        "mixture_temperature_curve",
        mixture_temperature_curve,
        _mixture_temperature_curve_sql(),
        "alpha sweep (1, 1/2, 1/4, 0) of the token planner: what each "
        "temperature buys in share flattening and upsampling epochs — "
        "the tuning table read before freezing one alpha",
    ),
    QueryDef(
        "decontaminate_purge",
        decontaminate_purge,
        _DECONTAMINATE_PURGE_SQL,
        "the contamination sweep carried to its per-source purge "
        "decision: drop ppm + surviving token mass",
    ),
    QueryDef(
        "ngram_novelty",
        ngram_novelty,
        _NGRAM_NOVELTY_SQL,
        "8-gram novelty curve: first-seen decomposition over packed gram "
        "keys — the long-range-redundancy diagnostic",
    ),
    QueryDef(
        "split_sample",
        split_sample,
        _split_sample_sql(),
        "deterministic train/val/test split + per-domain mixture sampling",
    ),
    QueryDef(
        "text_governance",
        text_governance,
        _TEXT_GOVERNANCE_SQL,
        "normalize -> PII redaction -> Gopher-style quality gate",
    ),
    QueryDef(
        "sequence_pack",
        sequence_pack,
        _SEQUENCE_PACK_SQL,
        "context-window sequence packing (partitioned running offsets)",
    ),
    QueryDef(
        "embedding_quantize",
        embedding_quantize,
        _EMBEDDING_QUANTIZE_SQL,
        "symmetric int8 embedding quantization error stats",
    ),
    QueryDef(
        "mixture_weights",
        mixture_weights_q,
        _MIXTURE_WEIGHTS_SQL,
        "temperature-scaled (alpha=0.5) domain sampling weights",
    ),
    QueryDef(
        "length_histogram",
        length_histogram_q,
        _LENGTH_HISTOGRAM_SQL,
        "corpus length profile: fixed-width histogram with overflow bucket",
    ),
    QueryDef(
        "stratified_sample",
        stratified_sample,
        _stratified_sample_sql(),
        "deterministic k-per-stratum sample by salted id hash",
    ),
    QueryDef(
        "split_leakage",
        split_leakage,
        _split_leakage_sql(),
        "train/test split n-gram leakage sweep (shuffle-joined gram keys)",
    ),
]
