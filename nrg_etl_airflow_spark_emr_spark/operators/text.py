"""Text-analysis operators over the ``documents`` table (SURVEY.md §7 M5).

Training-data text hygiene: token statistics, quality scoring, heuristic
language ID, and document fingerprinting. Everything is built-in column
expressions (split/filter/aggregate/regexp) — no Python UDFs — so the
whole module runs inside whole-stage codegen and has an exact ANSI twin.

All ratio outputs are int/int (or exact-int) divisions → one IEEE double
op, bit-identical across engines; weighted sums are written with the same
association order in both expressions.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash60, sql_hash60
from ..plans.catalog import register
from ._util import boundary, explode_unpushed, pin, release, spread, t

STOPWORDS = ("the", "a", "of", "and", "to", "in")

# Marker tokens per language for the n-gram/keyword language-ID heuristic.
# Real corpora would use character n-gram profiles; the fixture vocabulary
# is English-flavored word salad, so this demonstrates the mechanical shape
# (per-language evidence counts → deterministic argmax) on what exists.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist"),
    "en": ("the", "a", "and", "of", "is"),
    "es": ("el", "la", "que", "los", "es"),
    "fr": ("le", "les", "et", "une", "est"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),
}
LANG_ORDER = tuple(sorted(LANG_MARKERS))  # fixed argmax precedence


@register(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_tokens,
           CAST(length(replace(text, ' ', '')) AS INTEGER) AS n_word_chars,
           CAST(FLOOR(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                / len(string_split(text, ' ')) * 10000) AS DOUBLE) / 10000 AS avg_token_len
    FROM documents
    """,
    tags=("text",),
    doc="Whitespace token counting + lexical stats (SURVEY.md §7 M5): "
    "token count, vocabulary size, non-space chars, mean token length.",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = F.split("text", " ")
    n_word_chars = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    avg_len = (
        F.floor(n_word_chars.cast("double") / F.size(w) * 10000).cast("double") / 10000
    )
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(w).alias("n_tokens"),
        F.size(F.array_distinct(w)).alias("n_distinct_tokens"),
        n_word_chars.alias("n_word_chars"),
        avg_len.alias("avg_token_len"),
    )


def _sql_stopword_count() -> str:
    lits = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"len(list_filter(string_split(text, ' '), x -> list_contains([{lits}], x)))"


def _quality_exprs():
    """The quality-score law as reusable Columns over a ``text`` column
    — single source of truth for text_quality_score and the fused
    corpus-clean scan (pipelines/corpus.clean_corpus): (n_stopwords,
    stopword_ratio, type_token_ratio, quality_score)."""
    w = F.split("text", " ")
    n_stop = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS)))
    n_tok = F.size(w)
    stop_ratio = n_stop.cast("double") / n_tok
    ttr = F.size(F.array_distinct(w)).cast("double") / n_tok
    score = (F.floor((stop_ratio * 0.3 + ttr * 0.7) * 10000).cast("double") / 10000)
    return n_stop, stop_ratio, ttr, score


def _langid_pred_expr():
    """The langid argmax law as ONE Column over ``text`` — the fused
    corpus-clean scan's form (clean_corpus needs only the prediction,
    not the per-language scores, so repeating the score subexpressions
    inside greatest/argmax trades a little codegen for zero joins; the
    corpus_clean oracle, which nests text_langid's oracle, gates any
    drift from the staged text_langid law)."""
    w = F.split("text", " ")

    def marker_pred(markers: tuple[str, ...]):
        return lambda x: x.isin(*markers)

    scores = [
        F.size(F.filter(w, marker_pred(LANG_MARKERS[lg]))) for lg in LANG_ORDER
    ]
    greatest = F.greatest(*scores)
    pred = F.when(greatest == 0, F.lit("en"))
    for lg, sc in zip(LANG_ORDER, scores):
        pred = pred.when(sc == greatest, F.lit(lg))
    return pred


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           CAST({_sql_stopword_count()} AS INTEGER) AS n_stopwords,
           CAST({_sql_stopword_count()} AS DOUBLE)
               / len(string_split(text, ' ')) AS stopword_ratio,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS type_token_ratio,
           CAST(FLOOR((
               CAST({_sql_stopword_count()} AS DOUBLE) / len(string_split(text, ' ')) * 0.3
               + CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')) * 0.7
           ) * 10000) AS DOUBLE) / 10000 AS quality_score
    FROM documents
    """,
    tags=("text",),
    doc="Document quality heuristics: stopword ratio (fluency signal) and "
    "type-token ratio (repetition signal), folded into one score. The "
    "shape of a C4/Gopher-style quality filter, as pure column algebra.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_stop, stop_ratio, ttr, score = _quality_exprs()
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        n_stop.alias("n_stopwords"),
        stop_ratio.alias("stopword_ratio"),
        ttr.alias("type_token_ratio"),
        score.alias("quality_score"),
    )


def _sql_lang_score(lang: str) -> str:
    lits = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return f"len(list_filter(string_split(text, ' '), x -> list_contains([{lits}], x)))"


def _sql_langid_oracle() -> str:
    scores = ", ".join(f"{_sql_lang_score(lg)} AS s_{lg}" for lg in LANG_ORDER)
    greatest = "GREATEST(" + ", ".join(f"s_{lg}" for lg in LANG_ORDER) + ")"
    argmax = "CASE WHEN " + greatest + " = 0 THEN 'en' " + " ".join(
        f"WHEN s_{lg} = {greatest} THEN '{lg}'" for lg in LANG_ORDER
    ) + " END"
    return f"""
    WITH scored AS (SELECT doc_id, lang, {scores} FROM documents)
    SELECT doc_id, lang, {argmax} AS predicted_lang,
           CAST({argmax} = lang AS INTEGER) AS is_match
    FROM scored
    """


@register(
    "text_langid",
    oracle=_sql_langid_oracle(),
    tags=("text",),
    doc="Keyword-evidence language ID: per-language marker-token counts, "
    "deterministic argmax (fixed precedence, 'en' fallback on zero "
    "evidence). The fixture text is same-vocabulary word salad, so this "
    "exercises the mechanical path; swap LANG_MARKERS for character "
    "n-gram profiles on real corpora.",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = F.split("text", " ")

    def marker_pred(markers: tuple[str, ...]):
        return lambda x: x.isin(*markers)

    scored = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        *[
            F.size(F.filter(w, marker_pred(LANG_MARKERS[lg]))).alias(f"s_{lg}")
            for lg in LANG_ORDER
        ],
    )
    greatest = F.greatest(*[F.col(f"s_{lg}") for lg in LANG_ORDER])
    pred = F.when(greatest == 0, F.lit("en"))
    for lg in LANG_ORDER:
        pred = pred.when(F.col(f"s_{lg}") == greatest, F.lit(lg))
    return scored.select(
        "doc_id",
        "lang",
        pred.alias("predicted_lang"),
        (pred == F.col("lang")).cast("int").alias("is_match"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents
    )
    SELECT doc_id,
           MIN({sql_hash60("token")}) AS fp_min,
           CAST(SUM({sql_hash60("token")} % 1000000007) % 1000000007 AS BIGINT) AS fp_modsum
    FROM tok
    GROUP BY doc_id
    """,
    tags=("text", "sketch"),
    doc="Order-insensitive document fingerprint over the distinct-token "
    "set: 1-permutation MinHash (fp_min) + modular token-hash sum "
    "(fp_modsum). Pairs with dedup_exact for fast same-content checks "
    "when byte equality is too strict (whitespace-normalized dedup).",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(t(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("tokens")
    )
    tok = explode_unpushed(toks, F.col("tokens"), "token", "doc_id")
    h = hash60("token")
    return tok.groupBy("doc_id").agg(
        F.min(h).alias("fp_min"),
        (F.sum(h % 1000000007) % 1000000007).alias("fp_modsum"),
    )


# BPE-ish pre-tokenization classes: letter runs, digit runs, single
# non-alphanumeric marks (the shape GPT-2's pre-tokenizer regex carves
# before byte-pair merges).
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@register(
    "text_bpe_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS INTEGER)
               AS n_bpe_tokens,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
           CAST(FLOOR(CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS DOUBLE)
                / len(string_split(text, ' ')) * 10000) AS DOUBLE) / 10000
               AS bpe_per_word
    FROM documents
    """,
    tags=("text",),
    doc="BPE-ish token counting (SURVEY.md §7 M5): regex pre-tokenizer "
    "classes (letter runs / digit runs / punctuation marks) vs whitespace "
    "tokens, plus the tokens-per-word ratio LLM data budgets use. Pure "
    "regexp column expressions — JVM-side, no UDF.",
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_bpe = F.size(F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0))
    n_ws = F.size(F.split("text", " "))
    ratio = F.floor(n_bpe.cast("double") / n_ws * 10000).cast("double") / 10000
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        n_bpe.alias("n_bpe_tokens"),
        n_ws.alias("n_ws_tokens"),
        ratio.alias("bpe_per_word"),
    )


ROLL_K = 8  # character window width for the rolling fingerprint


@register(
    "text_rolling_fingerprint",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN length(text) >= {ROLL_K} THEN
               list_min([{sql_hash60(f"substr(text, i, {ROLL_K})")}
                         for i in range(1, length(text) - {ROLL_K - 2})])
           END AS roll_min,
           CASE WHEN length(text) >= {ROLL_K} THEN
               list_max([{sql_hash60(f"substr(text, i, {ROLL_K})")}
                         for i in range(1, length(text) - {ROLL_K - 2})])
           END AS roll_max
    FROM documents
    """,
    tags=("text", "sketch"),
    doc=f"Rolling-hash document fingerprint: hash every {ROLL_K}-char "
    "window (the Rabin-Karp/winnowing position set) and keep min+max — "
    "robust to token reordering at whitespace granularity, the "
    "character-level complement of text_fingerprint. Windows are "
    "generated as an index array (sequence→transform→array_min), the "
    "same zero-shuffle pattern as the MinHash signatures.",
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(t(spark, sf_dir, "documents").select("doc_id", "text"))
    idx = F.sequence(F.lit(1), F.length("text") - (ROLL_K - 1))
    hashes = F.transform(idx, lambda i: hash60(F.col("text").substr(i, F.lit(ROLL_K))))
    guarded = F.when(F.length("text") >= ROLL_K, hashes)
    return docs.select(
        "doc_id",
        F.array_min(guarded).alias("roll_min"),
        F.array_max(guarded).alias("roll_max"),
    )


# Character-trigram profiles per language (top distinctive trigrams —
# derived from the marker vocabulary; real profiles come from corpus
# frequency tables, the scoring mechanics below are unchanged).
NGRAM_PROFILES: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "er ", "ie ", "nd "),
    "en": ("the", "and", "ing", " of", "is ", "he ", "nd ", " a "),
    "es": ("el ", "la ", "que", "los", "es ", " de", "ue ", "os "),
    "fr": ("le ", "les", "et ", "une", "est", " le", "es ", "nt "),
    "zh": ("de5", "shi", "le5", "zai", "he2", "i4 ", "e5 ", "4 h"),
}


def _sql_ngram_score(lang: str) -> str:
    lits = ", ".join(f"'{g}'" for g in NGRAM_PROFILES[lang])
    return (
        "len(list_filter("
        "[substr(text, i, 3) for i in range(1, length(text) - 1)], "
        f"t -> list_contains([{lits}], t)))"
    )


def _sql_ngram_langid_oracle() -> str:
    order = tuple(sorted(NGRAM_PROFILES))
    scores = ", ".join(f"{_sql_ngram_score(lg)} AS s_{lg}" for lg in order)
    greatest = "GREATEST(" + ", ".join(f"s_{lg}" for lg in order) + ")"
    argmax = "CASE WHEN " + greatest + " = 0 THEN 'en' " + " ".join(
        f"WHEN s_{lg} = {greatest} THEN '{lg}'" for lg in order
    ) + " END"
    return f"""
    WITH scored AS (SELECT doc_id, {scores} FROM documents)
    SELECT doc_id, {argmax} AS predicted_lang
    FROM scored
    """


@register(
    "text_langid_ngram",
    oracle=_sql_ngram_langid_oracle(),
    tags=("text",),
    doc="Character-trigram language ID (SURVEY.md §7 M5 'n-gram "
    "heuristic'): slide a 3-char window over the text (same zero-shuffle "
    "sequence->transform pattern as the rolling fingerprint), count hits "
    "against per-language trigram profiles, deterministic argmax with "
    "fixed precedence and 'en' fallback. Complements text_langid's "
    "word-marker variant.",
)
def text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    order = tuple(sorted(NGRAM_PROFILES))
    docs = spread(t(spark, sf_dir, "documents").select("doc_id", "text"))
    idx = F.sequence(F.lit(1), F.length("text") - 2)
    grams = F.transform(idx, lambda i: F.col("text").substr(i, F.lit(3)))
    with_grams = docs.select("doc_id", grams.alias("grams"))

    def profile_pred(profile: tuple[str, ...]):
        return lambda g: g.isin(*profile)

    scored = with_grams.select(
        "doc_id",
        *[
            F.size(F.filter("grams", profile_pred(NGRAM_PROFILES[lg]))).alias(f"s_{lg}")
            for lg in order
        ],
    )
    greatest = F.greatest(*[F.col(f"s_{lg}") for lg in order])
    pred = F.when(greatest == 0, F.lit("en"))
    for lg in order:
        pred = pred.when(F.col(f"s_{lg}") == greatest, F.lit(lg))
    return scored.select("doc_id", pred.alias("predicted_lang"))


@register(
    "text_gopher_filter",
    bench=True,
    oracle="""
    WITH toks AS (
        SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(len(w) AS INTEGER) AS n_words,
               CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE)
                   / len(w) AS mean_word_len,
               CASE WHEN len(w) >= 2 THEN
                   1.0 - CAST(len(list_distinct(
                       [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
                   )) AS DOUBLE) / (len(w) - 1)
               ELSE 0.0 END AS dup_bigram_frac,
               CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                   / len(text) AS alpha_frac
        FROM toks WHERE len(text) > 0
    )
    SELECT doc_id, n_words, mean_word_len, dup_bigram_frac, alpha_frac,
           CAST(n_words BETWEEN 5 AND 10000
                AND mean_word_len BETWEEN 2 AND 12
                AND dup_bigram_frac < 0.3
                AND alpha_frac > 0.6 AS INTEGER) AS keep
    FROM m
    """,
    tags=("text",),
    doc="Gopher-style composite quality filter: word count bounds, mean "
    "word length, duplicate-bigram fraction (the repetition rule), and "
    "alphabetic-character fraction, composed into one keep flag. All "
    "ratios are exact-integer divisions, so both engines compute "
    "identical doubles. Complements text_quality_score (stopword/TTR) "
    "with the repetition + charset half of the published rule set.",
)
def text_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # w materialized as a named column first: HOF lambdas get no common-
    # subexpression elimination (see functions/hashing.py docstring).
    docs = spread(t(spark, sf_dir, "documents").select("doc_id", "text")).filter(
        F.length("text") > 0
    )
    toks = docs.select("doc_id", "text", F.split("text", " ").alias("w"))
    n_words = F.size("w")
    word_len_sum = F.aggregate(
        F.transform("w", F.length), F.lit(0), lambda acc, v: acc + v
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), n_words - 1),
        lambda i: F.concat_ws(" ", F.element_at("w", i), F.element_at("w", i + 1)),
    )
    dup_frac = F.when(
        n_words >= 2,
        F.lit(1.0)
        - F.size(F.array_distinct(bigrams)).cast("double") / (n_words - 1),
    ).otherwise(F.lit(0.0))
    alpha_frac = (
        F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast("double")
        / F.length("text")
    )
    m = toks.select(
        "doc_id",
        n_words.alias("n_words"),
        (word_len_sum.cast("double") / n_words).alias("mean_word_len"),
        dup_frac.alias("dup_bigram_frac"),
        alpha_frac.alias("alpha_frac"),
    )
    keep = (
        F.col("n_words").between(5, 10000)
        & F.col("mean_word_len").between(2, 12)
        & (F.col("dup_bigram_frac") < 0.3)
        & (F.col("alpha_frac") > 0.6)
    )
    return m.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "dup_bigram_frac",
        "alpha_frac",
        keep.cast("int").alias("keep"),
    )


@register(
    "text_top_ngram_frac",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    bg AS (
        SELECT doc_id, CAST(len(w) - 1 AS INTEGER) AS n_bigrams,
               unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bigram
        FROM toks WHERE len(w) >= 2
    ),
    cnt AS (
        SELECT doc_id, n_bigrams, bigram, COUNT(*) AS c
        FROM bg GROUP BY doc_id, n_bigrams, bigram
    ),
    top AS (
        SELECT doc_id, n_bigrams, bigram, c,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, bigram) AS rn
        FROM cnt
    )
    SELECT doc_id, bigram AS top_bigram, CAST(c AS INTEGER) AS top_count,
           CAST(c AS DOUBLE) / n_bigrams AS top_bigram_frac
    FROM top WHERE rn = 1
    """,
    tags=("text", "quality"),
    doc="Gopher's other repetition rule: the fraction of a document's "
    "bigrams taken by its single most frequent bigram (dup_bigram_frac in "
    "text_gopher_filter measures how many bigrams repeat AT ALL; this "
    "measures concentration). Zero shuffle: equal bigrams are adjacent in "
    "the sorted array, so the per-doc mode is a row-local longest-run fold "
    "(aggregate HOF) over array_sort(bigrams) — no explode, no per-doc "
    "groupBy exchange. The oracle takes the orthodox unnest+count+rank "
    "route; ties resolve to the lexicographically smallest bigram on both "
    "sides (ascending sort + strict >).",
)
def text_top_ngram_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(t(spark, sf_dir, "documents").select("doc_id", "text"))
    # Named-column staging between HOF steps: lambdas get no CSE
    # (functions/hashing.py), so each derived array is projected once.
    toks = docs.select("doc_id", F.split("text", " ").alias("w")).filter(
        F.size("w") >= 2
    )
    n_words = F.size("w")
    bigrams = F.transform(
        F.sequence(F.lit(1), n_words - 1),
        lambda i: F.concat_ws(" ", F.element_at("w", i), F.element_at("w", i + 1)),
    )
    staged = toks.select(
        "doc_id",
        (n_words - 1).alias("n_bigrams"),
        F.array_sort(bigrams).alias("sbg"),
    )

    def _step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        better = run > acc["best"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best"]).alias("best"),
            F.when(better, x).otherwise(acc["best_val"]).alias("best_val"),
        )

    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit("").alias("best_val"),
    )
    folded = staged.select(
        "doc_id",
        "n_bigrams",
        F.aggregate(F.col("sbg"), zero, _step).alias("top"),
    )
    return folded.select(
        "doc_id",
        F.col("top")["best_val"].alias("top_bigram"),
        F.col("top")["best"].alias("top_count"),
        (F.col("top")["best"].cast("double") / F.col("n_bigrams")).alias(
            "top_bigram_frac"
        ),
    )


@register(
    "text_word_freq_topk",
    oracle="""
    WITH words AS (
        SELECT unnest(string_split(text, ' ')) AS word
        FROM documents
    )
    SELECT word, COUNT(*) AS n
    FROM words
    WHERE word <> ''
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 20
    """,
    tags=("text", "topk"),
    doc="Corpus word-frequency top-20 via generator expansion (explode ≡ "
    "LATERAL VIEW ≡ unnest): the table-generating surface §2.10 notes "
    "the reference lacks. Count-then-rank with a word tiebreak keeps the "
    "limit deterministic; at 100 TB the partial aggregation absorbs the "
    "explosion before the shuffle (map-side combine on word).",
)
def text_word_freq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(t(spark, sf_dir, "documents").select("doc_id", "text"))
    words = docs.select(F.explode(F.split("text", " ")).alias("word")).filter(
        F.col("word") != ""
    )
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(20)
    )


_STOPWORD_RE = r"\b(the|a|an|of|and|in|to)\b"


@register(
    "text_remove_stopwords",
    oracle=f"""
    WITH cleaned AS (
        SELECT doc_id,
               trim(regexp_replace(
                   regexp_replace(text, '{_STOPWORD_RE}', '', 'g'),
                   ' +', ' ', 'g')) AS cleaned
        FROM documents
    )
    SELECT c.doc_id, c.cleaned,
           CAST(len(string_split(d.text, ' '))
              - CASE WHEN c.cleaned = '' THEN 0
                     ELSE len(string_split(c.cleaned, ' ')) END AS INTEGER)
               AS n_removed
    FROM cleaned c JOIN documents d ON c.doc_id = d.doc_id
    """,
    tags=("text", "clean"),
    doc="Stopword removal — the normalization stage of a corpus-cleaning "
    "pipeline: delete function words by word-boundary regex, squeeze the "
    "leftover whitespace, report how many tokens dropped. The alternation "
    "runs identically under Java regex (Spark) and RE2 (DuckDB): plain "
    "literals + \\b only. Pure map-side expression work — no shuffle, no "
    "explode; at 100 TB this is one pass fused into whatever scan feeds "
    "it.",
)
def text_remove_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    cleaned = F.trim(
        F.regexp_replace(F.regexp_replace("text", _STOPWORD_RE, ""), " +", " ")
    )
    staged = docs.select("doc_id", "text", cleaned.alias("cleaned"))
    n_removed = F.size(F.split("text", " ")) - F.when(
        F.col("cleaned") == "", F.lit(0)
    ).otherwise(F.size(F.split("cleaned", " ")))
    return staged.select(
        "doc_id", "cleaned", n_removed.cast("int").alias("n_removed")
    )


# --- TF-IDF inverted-index similarity ---------------------------------------

TFIDF_SCALE = 1000   # integer idf = (N * SCALE) div df — exact in both engines
TFIDF_TOPK = 3


def _bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → exploded word-bigram stream (doc_id, word).
    Adjacent-token pairs via two shifted array slices zipped map-side (no
    join, no per-token window); the contains/startswith filters drop the
    phantom grams empty tokens would create. Shared by _tfidf_weights and
    text_bigram_surprisal so the gram definition cannot drift from the
    oracles' grams0 CTE."""
    grams = F.zip_with(
        F.expr("slice(l, 1, size(l)-1)"),
        F.expr("slice(l, 2, size(l)-1)"),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        spread(docs)
        .select("doc_id", F.split("text", " ").alias("l"))
        .filter(F.size("l") >= 2)
        .select("doc_id", F.explode(grams).alias("word"))
        .filter(
            ~F.col("word").contains("  ")
            & ~F.col("word").startswith(" ")
            & ~F.col("word").endswith(" ")
        )
    )


def _tfidf_weights(spark: SparkSession, sf_dir: str):
    """(w, norms, n_docs, dot_sum): integer bigram tf-idf weights
    (doc_id, word, df, w) — cached, since every consumer joins it at
    least twice — per-doc squared norms, and the dot-product aggregator
    to use for pair scoring. Shared by text_tfidf_pairs (exact inverted
    index) and text_tfidf_topk_capped (rare-term candidates + re-rank).

    ``dot_sum(a, b)`` accumulates Σ a*b in BIGINT when the derived bound
    max_w² · max-postings-per-doc < 2^63 proves every partial sum fits —
    measured 3× faster than the decimal(38,0) path on the pair
    aggregation (8.3s vs 26s for 36M products at sf0.1: precision-38
    decimal falls out of Tungsten's fast arithmetic into BigDecimal).
    Past the bound it falls back to the decimal accumulator instead of
    silently wrapping — same derived-exactness contract as
    text_tfidf_topk_numpy's float64 check, one tier up. Values are
    identical either way (integer arithmetic, order-insensitive), so the
    oracle never sees the difference."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    words = _bigrams(docs)
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dft = (
        tf.groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") * 2 <= F.lit(n_docs))
    )
    w = pin(
        tf.join(dft, "word")
        .select(
            "doc_id",
            "word",
            "df",
            (F.col("tf") * F.expr(f"(CAST({n_docs} AS BIGINT) * {TFIDF_SCALE}) div df")).alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("w").cast("decimal(38,0)") * F.col("w")).alias("n2")
    )

    # Lazily decided on first use: the bound derivation is one extra
    # aggregation job over the cached weights, which text_tfidf_topk_numpy
    # (own float64 bound) and text_keyword_topk (no pair scoring) never
    # need — they must not pay it.
    use_bigint: list[bool] = []

    def dot_sum(a, b):
        if not use_bigint:
            bound = (
                w.groupBy("doc_id")
                .agg(F.max("w").alias("mw"), F.count(F.lit(1)).alias("len"))
                .agg(F.max("mw").alias("max_w"), F.max("len").alias("max_len"))
                .collect()
            )
            max_w = int(bound[0].max_w or 0)
            max_len = int(bound[0].max_len or 0)
            use_bigint.append(max_w * max_w * max(max_len, 1) < 2**63)
        if use_bigint[0]:
            return F.sum(F.col(a) * F.col(b))
        return F.sum(F.col(a).cast("decimal(38,0)") * F.col(b))

    return w, norms, n_docs, dot_sum


# Shared by text_tfidf_pairs (relational inverted index) and
# text_tfidf_topk_numpy (dense BLAS kernel): one spec, two execution
# strategies — both must match it value-for-value.
_SQL_TFIDF_TOPK = f"""
    WITH grams0 AS (
        SELECT doc_id,
               unnest([l[i] || ' ' || l[i+1]
                       for i in generate_series(1, len(l)-1)]) AS word
        FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) d
    ), tf AS (
        SELECT doc_id, word, COUNT(*) AS tf
        FROM grams0
        WHERE NOT contains(word, '  ')
          AND word NOT LIKE ' %' AND word NOT LIKE '% '
        GROUP BY doc_id, word
    ), stats AS (SELECT COUNT(*) AS n FROM documents),
    dft AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
    w AS (
        SELECT tf.doc_id, tf.word,
               tf.tf * ((stats.n * {TFIDF_SCALE}) // dft.df) AS w
        FROM tf JOIN dft USING (word) CROSS JOIN stats
        WHERE dft.df * 2 <= stats.n
    ), norms AS (
        SELECT doc_id, SUM(CAST(w AS DECIMAL(38,0)) * w) AS n2
        FROM w GROUP BY doc_id
    ), dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               SUM(CAST(a.w AS DECIMAL(38,0)) * b.w) AS dot
        FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), scored AS (
        SELECT doc_a, doc_b,
               CAST(dot AS DOUBLE) /
               (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
                   AS cosine
        FROM dots
        JOIN norms na ON na.doc_id = doc_a
        JOIN norms nb ON nb.doc_id = doc_b
    )
    SELECT doc_a, doc_b, cosine, rn FROM (
        SELECT doc_a, doc_b, cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY doc_a ORDER BY cosine DESC, doc_b) AS INTEGER)
                   AS rn
        FROM scored)
    WHERE rn <= {TFIDF_TOPK}
    """


@register(
    "text_tfidf_pairs",
    oracle=_SQL_TFIDF_TOPK,
    tags=("text", "similarity", "topk"),
    doc="TF-IDF cosine top-k neighbours per document via an INVERTED-INDEX "
    "join — the sparse-vector sibling of the dense-embedding kNN stack. "
    "Terms are word BIGRAMS (the fixture corpus has a ~50-word "
    "vocabulary where every unigram is a stopword by df; bigrams give a "
    "~900-gram vocabulary with median df 6% — the sparsity real corpora "
    "have at the unigram level). Per-(doc,gram) term frequencies, "
    "per-gram document frequencies, integer idf weights (N*1000 div df — "
    "integer division is exact in both engines, no transcendental log to "
    "diverge on), then a self-join keyed ON THE GRAM so only documents "
    "sharing a gram are ever paired. Grams in more than half the corpus "
    "are pruned (df*2 > N) — the stopword band that would otherwise "
    "quadratically blow up the index join at 100 TB. Dot products and "
    "norms accumulate exactly in decimal(38,0); one final IEEE "
    "division+sqrt per pair keeps Spark and DuckDB bit-identical. The "
    "weighted postings frame is cached before the three-way fan-out "
    "(self-join sides + norms) — see SCALE.md on CollapseProject "
    "re-inlining.",
)
def text_tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    w, norms, _, dot_sum = _tfidf_weights(spark, sf_dir)
    a = w.select(F.col("doc_id").alias("doc_a"), "word", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), "word", F.col("w").alias("wb"))
    dots = (
        a.join(b, "word")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(dot_sum("wa", "wb").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    cosine = F.col("dot").cast("double") / (
        F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))
    )
    scored = (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", cosine.alias("cosine"))
    )
    win = Window.partitionBy("doc_a").orderBy(F.col("cosine").desc(), F.col("doc_b"))
    return (
        scored.select(
            "doc_a", "doc_b", "cosine", F.row_number().over(win).alias("rn")
        )
        .filter(F.col("rn") <= TFIDF_TOPK)
    )


# (applicationId, sf_dir) -> broadcast of the dense tf-idf weight matrix.
_TFIDF_BC_CACHE: dict = {}


@register(
    "text_tfidf_topk_numpy",
    oracle=_SQL_TFIDF_TOPK,
    tags=("text", "similarity", "topk", "vectorized"),
    doc="text_tfidf_pairs re-executed as a dense Arrow/NumPy BLAS kernel — "
    "the sim_knn_numpy escape hatch applied to sparse-text cosine: the "
    "integer weight matrix (docs x vocab, driver-assembled while the "
    "vocabulary is broadcast-sized) multiplies against row blocks in "
    "float64, which is EXACT here because every product and partial sum "
    "is an integer below 2^53 — the builder derives the actual bound "
    "(max_w^2 x max postings per doc) from the data and refuses to run "
    "past it rather than silently rounding. Per-block top-k needs no "
    "re-rank window: each block holds its rows' full score vector. Same "
    "oracle as the relational op, value-for-value. At 100 TB the dense "
    "doc x vocab broadcast is the part that breaks (vocabulary and "
    "corpus both unbounded) — this is the bounded-vocab accelerator; "
    "the inverted index and the capped-candidate variant remain the "
    "scale paths. The shape that DOES generalize is the block-tiled "
    "exact-integer BLAS with a magnitude proof, per SURVEY §2.10's "
    "no-row-UDF rule.",
)
def text_tfidf_topk_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    w, norms, _, _ = _tfidf_weights(spark, sf_dir)
    # Arrow-path collect + vectorized scatter: row-object collect() plus a
    # Python build loop measured ~5s of pure driver time at sf0.1.
    pdf0 = w.select("doc_id", "word", "w").toPandas()
    di, id_uniq = pd.factorize(pdf0["doc_id"], sort=True)
    wi, _vocab = pd.factorize(pdf0["word"], sort=True)
    ids = np.asarray(id_uniq, dtype=np.int64)
    mat = np.zeros((len(ids), len(_vocab)), dtype=np.float64)
    mat[di, wi] = pdf0["w"].to_numpy(dtype=np.float64)
    # Exactness precondition for float64 integer arithmetic: every dot
    # partial sum stays under 2^53. max_w grows ~linearly with corpus
    # size (idf = N*1000 div df), so this HARD-FAILS past the regime
    # where BLAS is bit-exact instead of silently rounding.
    max_w = float(mat.max(initial=0.0))
    max_len = int((mat > 0).sum(axis=1).max(initial=0))
    if max_w * max_w * max(max_len, 1) >= 2.0**53:
        raise ValueError(
            "tfidf weights exceed the float64-exact dot-product bound; "
            "use text_tfidf_pairs (decimal-exact inverted index) instead"
        )
    n2 = (mat * mat).sum(axis=1)
    sq = np.sqrt(n2)
    # Memoize the broadcast per (application, sf): the builder runs many
    # times in one long-lived session (driver sweep, min-of-N bench) and
    # a fresh 37 MB broadcast per call would pin executor storage
    # monotonically. One broadcast per sf_dir is the leak ceiling.
    key = (spark.sparkContext.applicationId, sf_dir)
    # Evict dead applications' entries on access: a stopped session's
    # Broadcast handle (and its driver-side matrix tuple) would otherwise
    # stay pinned for the life of the Python process. Bounds the dict to
    # the live app's sf_dirs.
    for stale in [k for k in _TFIDF_BC_CACHE if k[0] != key[0]]:
        del _TFIDF_BC_CACHE[stale]
    bc = _TFIDF_BC_CACHE.get(key)
    if bc is None:
        bc = spark.sparkContext.broadcast((ids, mat, sq))
        _TFIDF_BC_CACHE[key] = bc

    def kernel(batches):
        d_ids, d_mat, d_sq = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ii = np.searchsorted(d_ids, pdf["doc_id"].to_numpy(dtype=np.int64))
            dots = d_mat[ii] @ d_mat.T
            cos = dots / (d_sq[ii][:, None] * d_sq[None, :])
            out_a, out_b, out_c, out_r = [], [], [], []
            for row, i in enumerate(ii):
                # Pair convention matches the relational op: doc_a < doc_b,
                # and only genuinely co-occurring pairs (dot > 0) exist.
                mask = (d_ids > d_ids[i]) & (dots[row] > 0)
                cand, cc = d_ids[mask], cos[row][mask]
                order = np.lexsort((cand, -cc))[:TFIDF_TOPK]
                out_a.extend([d_ids[i]] * len(order))
                out_b.extend(cand[order])
                out_c.extend(cc[order])
                out_r.extend(range(1, len(order) + 1))
            yield pd.DataFrame(
                {
                    "doc_a": pd.Series(out_a, dtype="int64"),
                    "doc_b": pd.Series(out_b, dtype="int64"),
                    "cosine": pd.Series(out_c, dtype="float64"),
                    "rn": pd.Series(out_r, dtype="int32"),
                }
            )

    # Few large blocks, not defaultParallelism small ones: every Python
    # worker that touches a block deserializes the broadcast matrix once,
    # so task count — not row count — drives the fixed overhead. Block
    # work is a [B x V] @ [V x N] BLAS call; 8 blocks keep every core
    # busy through OpenBLAS threads while paying 8 unpickles, not 32.
    return norms.select("doc_id").coalesce(8).mapInPandas(
        kernel, schema="doc_a long, doc_b long, cosine double, rn int"
    )


# Candidate-pair budget per document. The rare-term df threshold is DERIVED
# from the measured df distribution: keep the largest df band T such that
# sum over kept terms of df*(df-1)/2 — the EXACT pre-aggregation row count
# of the candidate self-join — stays within n_docs * BUDGET. Candidates
# therefore grow linearly with corpus size by construction, on flat,
# suffix-sharded, and Zipfian vocabularies alike (a fixed df*SEL <= n cut
# kept 100% of postings on sharded vocabularies and went super-linear at
# sf1: 103M pair-products, shuffle-spill — BASELINE.md "Non-bench cost
# leaders"). 512/doc keeps a strict SUPERSET of the old df*16<=n candidate
# set at fixture scale (207,614 <= 256,000 pair-products at sf0.01), so
# measured recall vs the exact op only improves.
TFIDF_PAIR_BUDGET = 512
TFIDF_SHORTLIST = 10   # candidate pairs per doc before exact re-rank


@register(
    "text_tfidf_topk_capped",
    oracle=f"""
    WITH grams0 AS (
        SELECT doc_id,
               unnest([l[i] || ' ' || l[i+1]
                       for i in generate_series(1, len(l)-1)]) AS word
        FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) d
    ), tf AS (
        SELECT doc_id, word, COUNT(*) AS tf
        FROM grams0
        WHERE NOT contains(word, '  ')
          AND word NOT LIKE ' %' AND word NOT LIKE '% '
        GROUP BY doc_id, word
    ), stats AS (SELECT COUNT(*) AS n FROM documents),
    dft AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
    w AS (
        SELECT tf.doc_id, tf.word, dft.df,
               tf.tf * ((stats.n * {TFIDF_SCALE}) // dft.df) AS w
        FROM tf JOIN dft USING (word) CROSS JOIN stats
        WHERE dft.df * 2 <= stats.n
    ), norms AS (
        SELECT doc_id, SUM(CAST(w AS DECIMAL(38,0)) * w) AS n2
        FROM w GROUP BY doc_id
    ), bands AS (
        SELECT df, COUNT(*) AS cnt
        FROM (SELECT DISTINCT word, df FROM w) GROUP BY df
    ), cum AS (
        SELECT df, SUM(df * (df - 1) // 2 * cnt) OVER (ORDER BY df) AS cpairs
        FROM bands
    ), thr AS (
        SELECT COALESCE(
                   MAX(CASE WHEN cpairs <= stats.n * {TFIDF_PAIR_BUDGET}
                            THEN df END),
                   MIN(df)) AS t
        FROM cum CROSS JOIN stats GROUP BY stats.n
    ), rare AS (
        SELECT w.* FROM w CROSS JOIN thr WHERE w.df <= thr.t
    ), cdots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               SUM(CAST(a.w AS DECIMAL(38,0)) * b.w) AS cdot
        FROM rare a JOIN rare b ON a.word = b.word AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), shortlist AS (
        SELECT doc_a, doc_b FROM (
            SELECT doc_a, doc_b,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_a ORDER BY cdot DESC, doc_b) AS arn
            FROM cdots)
        WHERE arn <= {TFIDF_SHORTLIST}
    ), dots AS (
        SELECT s.doc_a, s.doc_b,
               SUM(CAST(a.w AS DECIMAL(38,0)) * b.w) AS dot
        FROM shortlist s
        JOIN w a ON a.doc_id = s.doc_a
        JOIN w b ON b.doc_id = s.doc_b AND b.word = a.word
        GROUP BY s.doc_a, s.doc_b
    ), scored AS (
        SELECT doc_a, doc_b,
               CAST(dot AS DOUBLE) /
               (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
                   AS cosine
        FROM dots
        JOIN norms na ON na.doc_id = doc_a
        JOIN norms nb ON nb.doc_id = doc_b
    )
    SELECT doc_a, doc_b, cosine, rn FROM (
        SELECT doc_a, doc_b, cosine,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY doc_a ORDER BY cosine DESC, doc_b) AS INTEGER)
                   AS rn
        FROM scored)
    WHERE rn <= {TFIDF_TOPK}
    """,
    tags=("text", "similarity", "topk"),
    doc="Capped-candidate TF-IDF top-k — the scale path for "
    "text_tfidf_pairs, whose exact inverted-index join pays sum(df^2) "
    "pair-products and is dominated by the most COMMON terms, which "
    "carry the least cosine weight. Stage 1 joins only RARE terms to "
    "rank candidates, where the df cut-off is ADAPTIVE: the largest df "
    "band whose cumulative sum(df*(df-1)/2) — the exact pre-aggregation "
    "row count of the candidate self-join — fits a linear budget of "
    f"{TFIDF_PAIR_BUDGET}*n_docs pair-products (a fixed df*16<=n cut "
    "kept 100% of postings on a suffix-sharded vocabulary and went "
    "super-linear at sf1). The threshold derivation is one window-"
    "cumsum over the per-df band counts — a frame of at most "
    "|distinct df| <= n/2 rows, computed lazily inside the plan (a "
    "1-row broadcast side, no driver collect). Stage 2 re-ranks the "
    f"top-{TFIDF_SHORTLIST} shortlist per doc with the FULL weight "
    "vectors — pair-restricted joins, so exact-scoring cost is "
    "shortlist-bounded. Both stages are deterministic relational "
    "algebra: the oracle replays the identical threshold rule; recall "
    "vs the uncapped op is gated in tests (the sf0.01 candidate set is "
    "a strict superset of the old fixed cut's), and a Zipf(1.2) corpus "
    "exactness pin covers the heavy-tailed regime the budget exists "
    "for. If even the rarest df band overflows the budget the rule "
    "keeps that band (COALESCE to MIN(df)) so candidates never go "
    "empty.",
)
def text_tfidf_topk_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    w, norms, n_docs, dot_sum = _tfidf_weights(spark, sf_dir)
    # Adaptive rare-term threshold: cumulative candidate-pair mass by df
    # band, largest band under budget wins; all lazy, 1-row broadcast.
    bands = (
        w.select("word", "df")
        .distinct()
        .groupBy("df")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cumw = Window.orderBy("df")  # ~|distinct df| rows: single partition OK
    cum = bands.select(
        "df",
        F.sum(F.expr("df * (df - 1) div 2") * F.col("cnt")).over(cumw).alias("cpairs"),
    )
    budget = F.lit(int(n_docs) * TFIDF_PAIR_BUDGET)
    thr = cum.agg(
        F.coalesce(
            F.max(F.when(F.col("cpairs") <= budget, F.col("df"))),
            F.min("df"),
        ).alias("t")
    )
    rare = w.join(F.broadcast(thr), F.col("df") <= F.col("t")).drop("t")
    ra = rare.select(F.col("doc_id").alias("doc_a"), "word", F.col("w").alias("wa"))
    rb = rare.select(F.col("doc_id").alias("doc_b"), "word", F.col("w").alias("wb"))
    cdots = (
        ra.join(rb, "word")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(dot_sum("wa", "wb").alias("cdot"))
    )
    aw = Window.partitionBy("doc_a").orderBy(F.col("cdot").desc(), F.col("doc_b"))
    shortlist = (
        cdots.select("doc_a", "doc_b", F.row_number().over(aw).alias("arn"))
        .filter(F.col("arn") <= TFIDF_SHORTLIST)
        .select("doc_a", "doc_b")
    )
    wa_full = w.select(F.col("doc_id").alias("doc_a"), "word", F.col("w").alias("wa"))
    wb_full = w.select(F.col("doc_id").alias("doc_b"), "word", F.col("w").alias("wb"))
    dots = (
        shortlist.join(wa_full, "doc_a")
        .join(wb_full, ["doc_b", "word"])
        .groupBy("doc_a", "doc_b")
        .agg(dot_sum("wa", "wb").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    cosine = F.col("dot").cast("double") / (
        F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))
    )
    win = Window.partitionBy("doc_a").orderBy(F.col("cosine").desc(), F.col("doc_b"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", cosine.alias("cosine"))
        .select("doc_a", "doc_b", "cosine", F.row_number().over(win).alias("rn"))
        .filter(F.col("rn") <= TFIDF_TOPK)
    )


LEV_HEAD = 40   # chars of document head compared
LEV_MAX = 20    # max edit distance for a fuzzy match


@register(
    "text_fuzzy_pairs",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               string_split(text, ' ')[1] AS tok1,
               substr(text, 1, {LEV_HEAD}) AS head
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.head, b.head) AS INTEGER) AS lev_dist
    FROM d a JOIN d b ON a.tok1 = b.tok1 AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= {LEV_MAX}
    """,
    tags=("text", "similarity"),
    doc=f"Edit-distance fuzzy matching — the character-level near-dup "
    "surface (catches typos/OCR noise that token-level Jaccard and "
    "shingle MinHash miss). Candidates are keyed on the first token "
    "(an equi-join, no all-pairs), then exact Levenshtein over the "
    f"{LEV_HEAD}-char head filters to distance <= {LEV_MAX}. Distances are "
    "identical integers in the single-byte regime (ASCII fixture text): "
    "Spark counts codepoints but DuckDB counts UTF-8 BYTES, a divergence "
    "pinned in tests/test_properties.py — non-ASCII corpora must "
    "normalize before cross-engine comparison. At 100 TB the blocking key generalizes to any cheap "
    "canonical prefix (normalized first k tokens, simhash band); cost "
    "tracks bucket occupancy squared times head-length squared.",
)
def text_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(t(spark, sf_dir, "documents")).select(
        "doc_id",
        F.split("text", " ").getItem(0).alias("tok1"),
        F.substring("text", 1, LEV_HEAD).alias("head"),
    )
    a = docs.select(
        F.col("doc_id").alias("doc_a"), "tok1", F.col("head").alias("head_a")
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"), "tok1", F.col("head").alias("head_b")
    )
    dist = F.levenshtein("head_a", "head_b")
    return (
        a.join(b, "tok1")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", dist.cast("int").alias("lev_dist"))
        .filter(F.col("lev_dist") <= LEV_MAX)
    )


CHUNK_WORDS = 10


@register(
    "text_chunk_dedup",
    oracle=f"""
    WITH ex AS (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) AS pos,
               unnest(string_split(text, ' ')) AS word
        FROM documents
    ),
    ch AS (
        SELECT doc_id, (pos - 1) // {CHUNK_WORDS} AS chunk_idx,
               md5(string_agg(word, ' ' ORDER BY pos)) AS h
        FROM ex GROUP BY doc_id, chunk_idx
    ),
    own AS (
        SELECT h, MIN(doc_id * 1000000 + chunk_idx) AS own_key
        FROM ch GROUP BY h
    ),
    owned AS (
        SELECT CAST(own_key // 1000000 AS BIGINT) AS doc_id, COUNT(*) AS n_owned
        FROM own GROUP BY 1
    ),
    per_doc AS (
        SELECT doc_id, COUNT(*) AS n_chunks FROM ch GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_chunks, COALESCE(o.n_owned, CAST(0 AS BIGINT)) AS n_owned
    FROM per_doc p LEFT JOIN owned o USING (doc_id)
    """,
    tags=("text", "dedup"),
    doc=f"Passage-level exact dedup (the C4/RefinedWeb repeated-span "
    f"primitive): each document is cut into non-overlapping "
    f"{CHUNK_WORDS}-word chunks, every distinct chunk is owned by its "
    "first occurrence (min (doc_id, chunk_idx)), and each doc reports "
    "how many of its chunks it owns — n_owned << n_chunks flags "
    "boilerplate-heavy docs. The ownership groupBy shuffles 32-byte MD5 "
    "digests, never chunk text (identical hex in Spark and DuckDB, so "
    "the oracle pins the same keying the 100 TB plan uses). Chunks are "
    "built by array slice — order-preserving without a window sort; "
    "2 digest-keyed shuffles + 1 doc-keyed join, no all-pairs anywhere.",
)
def text_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = spread(t(spark, sf_dir, "documents")).select(
        "doc_id", F.split("text", " ").alias("w")
    )
    n_chunks = F.ceil(F.size("w") / F.lit(CHUNK_WORDS)).cast("long")
    chunks = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_idx"),
        "w",
    ).select(
        "doc_id",
        "chunk_idx",
        F.md5(
            F.array_join(
                F.slice(
                    "w",
                    (F.col("chunk_idx") * CHUNK_WORDS + 1).cast("int"),
                    CHUNK_WORDS,
                ),
                " ",
            )
        ).alias("h"),
    )
    own = chunks.groupBy("h").agg(
        F.min(F.col("doc_id") * 1000000 + F.col("chunk_idx")).alias("own_key")
    )
    owned = (
        own.select(F.expr("own_key div 1000000").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_owned"))
    )
    per_doc = chunks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks"))
    return per_doc.join(owned, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce("n_owned", F.lit(0).cast("long")).alias("n_owned"),
    )


@register(
    "text_unigram_surprisal",
    oracle="""
    WITH ex AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    freq AS (
        SELECT word, COUNT(*) AS cnt FROM ex GROUP BY word
    ),
    ranked AS (
        SELECT word,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rnk
        FROM freq
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(length(CAST(rnk AS VARCHAR))) AS BIGINT) AS surprisal_sum,
           CAST(SUM(length(CAST(rnk AS VARCHAR))) AS DOUBLE) / COUNT(*)
               AS avg_surprisal
    FROM ex JOIN ranked USING (word)
    GROUP BY doc_id
    """,
    tags=("text", "quality"),
    doc="Unigram-LM surprisal quality score (the CCNet/Gopher LM-filter "
    "shape): rank every vocabulary word by global frequency, charge each "
    "token the DIGIT COUNT of its rank — an exact-integer monotone proxy "
    "for log10(rank), i.e. Zipf surprisal — and score each doc by total "
    "and mean token surprisal. High scores flag rare-token gibberish, "
    "low scores flag boilerplate. The integer proxy exists for the "
    "oracle: true log-probs are one libm call away but never bit-match "
    "across engines; digit-of-rank is deterministic everywhere. Scale "
    "shape: vocab aggregation is corpus-shuffle #1, the rank window "
    "sorts only the VOCABULARY (tiny vs corpus — the single-partition "
    "window is deliberate and bounded), and the token-to-rank join "
    "broadcasts the vocab; one further shuffle regroups per doc.",
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = spread(t(spark, sf_dir, "documents"))
    words = explode_unpushed(
        docs.select("doc_id", F.split("text", " ").alias("w")),
        F.col("w"),
        "word",
        "doc_id",
    )
    freq = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    rw = Window.orderBy(F.col("cnt").desc(), "word")
    ranked = freq.select("word", F.row_number().over(rw).alias("rnk"))
    digits = F.length(F.col("rnk").cast("string"))
    return (
        words.join(F.broadcast(ranked), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(digits).alias("surprisal_sum"),
            (F.sum(digits).cast("double") / F.count(F.lit(1))).alias(
                "avg_surprisal"
            ),
        )
    )


_VOCAB_BUCKET = 50  # docs per growth-curve bucket


@register(
    "text_vocab_growth",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    first_seen AS (
        SELECT word, MIN(doc_id) AS first_doc FROM words GROUP BY word
    ),
    bucketed AS (
        SELECT first_doc // {_VOCAB_BUCKET} AS bucket, COUNT(*) AS new_words
        FROM first_seen GROUP BY 1
    )
    SELECT CAST(bucket * {_VOCAB_BUCKET} AS BIGINT) AS bucket_start,
           CAST(new_words AS BIGINT) AS new_words,
           CAST(SUM(new_words) OVER (
               ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_vocab
    FROM bucketed
    """,
    tags=("text", "agg", "window"),
    doc=f"Vocabulary growth curve (Heaps'-law measurement): how many NEW "
    f"distinct words each {_VOCAB_BUCKET}-document slab of the corpus "
    "contributes, plus the cumulative vocabulary — the curve that tells "
    "a data pipeline whether more data still buys lexical diversity or "
    "the corpus has saturated (near-dup floods flatten it instantly, "
    "so it doubles as a cheap dedup canary). Distinctness is structural, "
    "as in events_cumulative_users: each word collapses to its FIRST "
    "document (one groupBy on the word — the only data-sized exchange), "
    "and the running sum runs on the bucket-grain frame, sized by "
    "corpus/50, not by tokens.",
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = spread(t(spark, sf_dir, "documents").select("doc_id", "text"))
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    first_seen = words.groupBy("word").agg(F.min("doc_id").alias("first_doc"))
    # F.floor(x / N), not (x / N).cast('long'): double-divide-then-
    # truncate only matches the oracle's integer floor division for
    # non-negative keys; floor matches it on the full integer domain.
    bucketed = first_seen.groupBy(
        F.floor(F.col("first_doc") / _VOCAB_BUCKET).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("new_words"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return bucketed.select(
        (F.col("bucket") * _VOCAB_BUCKET).alias("bucket_start"),
        "new_words",
        F.sum("new_words").over(w).cast("long").alias("cum_vocab"),
    )


KEYWORD_TOPK = 5


@register(
    "text_keyword_topk",
    oracle=f"""
    WITH grams0 AS (
        SELECT doc_id,
               unnest([l[i] || ' ' || l[i+1]
                       for i in generate_series(1, len(l)-1)]) AS word
        FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) d
    ), tf AS (
        SELECT doc_id, word, COUNT(*) AS tf
        FROM grams0
        WHERE NOT contains(word, '  ')
          AND word NOT LIKE ' %' AND word NOT LIKE '% '
        GROUP BY doc_id, word
    ), stats AS (SELECT COUNT(*) AS n FROM documents),
    dft AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
    w AS (
        SELECT tf.doc_id, tf.word,
               tf.tf * ((stats.n * {TFIDF_SCALE}) // dft.df) AS w
        FROM tf JOIN dft USING (word) CROSS JOIN stats
        WHERE dft.df * 2 <= stats.n
    )
    SELECT doc_id, word, w, rn FROM (
        SELECT doc_id, word, w,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY w DESC, word) AS INTEGER) AS rn
        FROM w)
    WHERE rn <= {KEYWORD_TOPK}
    """,
    tags=("text", "topk"),
    doc=f"Per-document keyword extraction: the top-{KEYWORD_TOPK} "
    "highest-tf-idf bigrams per doc — the classic document-tagging / "
    "summarization primitive, and deliberately a THIRD consumer of the "
    "shared cached _tfidf_weights frame (pairs + capped + this all read "
    "one materialization — the inverted index is built once per corpus, "
    "every downstream op reuses it). After the weights, the whole query "
    "is one per-doc row_number window with a deterministic (w desc, "
    "word) order; WindowGroupLimit prunes to k rows per doc before the "
    "exchange. Integer weights make the ranking engine-exact.",
)
def text_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    w, _, _, _ = _tfidf_weights(spark, sf_dir)
    win = Window.partitionBy("doc_id").orderBy(F.col("w").desc(), "word")
    return (
        w.select("doc_id", "word", "w", F.row_number().over(win).alias("rn"))
        .filter(F.col("rn") <= KEYWORD_TOPK)
    )


@register(
    "text_bigram_surprisal",
    oracle="""
    WITH grams0 AS (
        SELECT doc_id,
               unnest([l[i] || ' ' || l[i+1]
                       for i in generate_series(1, len(l)-1)]) AS word
        FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) d
    ), ex AS (
        SELECT doc_id, word FROM grams0
        WHERE NOT contains(word, '  ')
          AND word NOT LIKE ' %' AND word NOT LIKE '% '
    ),
    freq AS (SELECT word, COUNT(*) AS cnt FROM ex GROUP BY word),
    ranked AS (
        SELECT word,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rnk
        FROM freq
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(length(CAST(rnk AS VARCHAR))) AS BIGINT) AS surprisal_sum,
           CAST(SUM(length(CAST(rnk AS VARCHAR))) AS DOUBLE) / COUNT(*)
               AS avg_surprisal
    FROM ex JOIN ranked USING (word)
    GROUP BY doc_id
    """,
    tags=("text", "quality"),
    doc="Bigram-LM surprisal quality score — text_unigram_surprisal's "
    "context-sensitive sibling: adjacent-pair grams (shared _bigrams "
    "kernel, identical to the tf-idf gram definition) are ranked by "
    "global frequency and each occurrence charged the DIGIT COUNT of "
    "its gram's rank (the exact-integer log10(rank) proxy — true "
    "log-probs never bit-match across engines). A doc full of common "
    "word PAIRS scores low even when unigram surprisal is unremarkable "
    "(boilerplate detection); shuffled-word gibberish scores high even "
    "when every unigram is common — the two scores bracket word-order "
    "quality, which is why LM-based filters (CCNet) beat bag-of-words "
    "ones. Same scale shape as the unigram op: one corpus exchange for "
    "gram frequencies, a vocabulary-bounded rank window, a broadcast "
    "token→rank join, one per-doc regroup.",
)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    grams = _bigrams(docs)
    freq = grams.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    rw = Window.orderBy(F.col("cnt").desc(), "word")
    ranked = freq.select("word", F.row_number().over(rw).alias("rnk"))
    digits = F.length(F.col("rnk").cast("string"))
    return (
        grams.join(F.broadcast(ranked), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(digits).alias("surprisal_sum"),
            (F.sum(digits).cast("double") / F.count(F.lit(1))).alias(
                "avg_surprisal"
            ),
        )
    )


COOC_WINDOW = 2      # symmetric word-window radius
COOC_MIN_PAIR = 5    # report pairs seen at least this often


@register(
    "text_cooccurrence_pmi",
    oracle=f"""
    WITH ex AS (
        SELECT doc_id,
               CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS pos,
               unnest(string_split(text, ' ')) AS word
        FROM documents
    ), pairs AS (
        SELECT a.word AS w1, b.word AS w2, COUNT(*) AS pair_n
        FROM ex a JOIN ex b
          ON b.doc_id = a.doc_id
         AND b.pos > a.pos AND b.pos <= a.pos + {COOC_WINDOW}
        GROUP BY a.word, b.word
    ), uni AS (
        SELECT word, COUNT(*) AS n FROM ex GROUP BY word
    ), tot AS (
        SELECT COUNT(*) AS n_tokens FROM ex
    )
    SELECT w1, w2, pair_n,
           u1.n AS w1_n, u2.n AS w2_n,
           CAST(CAST(pair_n AS HUGEINT) * t.n_tokens AS BIGINT) AS joint_scaled,
           CAST(CAST(u1.n AS HUGEINT) * u2.n AS BIGINT) AS indep_scaled,
           CAST(CAST(pair_n AS HUGEINT) * t.n_tokens AS DOUBLE)
               / CAST(CAST(u1.n AS HUGEINT) * u2.n AS DOUBLE) AS pmi_odds
    FROM pairs
    JOIN uni u1 ON u1.word = w1
    JOIN uni u2 ON u2.word = w2
    CROSS JOIN tot t
    WHERE pair_n >= {COOC_MIN_PAIR}
    """,
    tags=("text", "stats"),
    doc=f"Windowed word co-occurrence with exact PMI-odds — the skip-gram "
    f"count matrix (radius {COOC_WINDOW}, forward-ordered pairs) that "
    "word-embedding and collocation pipelines start from. pmi_odds = "
    "P(w1,w2)/(P(w1)P(w2)) = pair_n*N / (n1*n2) is exp(PMI): monotone-"
    "equivalent to PMI but free of the log whose libm rounding differs "
    "across engines — exact integers through one IEEE division, with "
    "the scaled numerator/denominator also emitted as exact BIGINTs. "
    "Plan: the position self-join is the banded-range pattern on "
    "(doc_id, pos) — row-local offsets, no theta join; pair counts "
    "aggregate at vocabulary-pair grain (Zipf-capped in practice by "
    f"the min-count {COOC_MIN_PAIR} filter, the standard word2vec "
    "pruning); unigram totals broadcast back onto the pair frame.",
)
def text_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = (
        spread(t(spark, sf_dir, "documents"))
        .select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "word")
        )
        .select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "word")
    )
    ex = pin(ex)  # fans out three ways: pair join (x2) + unigram counts
    offsets = F.explode(
        F.array(*[F.lit(i) for i in range(1, COOC_WINDOW + 1)])
    ).alias("off")
    a = ex.select("doc_id", "pos", F.col("word").alias("w1"), offsets).select(
        "doc_id", (F.col("pos") + F.col("off")).alias("bpos"), "w1"
    )
    b = ex.select(
        F.col("doc_id").alias("b_doc"), F.col("pos").alias("bpos2"), F.col("word").alias("w2")
    )
    pairs = (
        a.join(b, (a.doc_id == b.b_doc) & (a.bpos == b.bpos2))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .filter(F.col("pair_n") >= COOC_MIN_PAIR)
    )
    uni = ex.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    tot = ex.agg(F.count(F.lit(1)).alias("n_tokens"))
    u1 = uni.select(F.col("word").alias("w1"), F.col("n").alias("w1_n"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("n").alias("w2_n"))
    j = (
        pairs.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
    )
    # Widen BEFORE multiplying (decimal(38,0) ~ the oracle's HUGEINT):
    # pair_n * n_tokens in raw int64 overflows first on a large corpus,
    # and ANSI mode would fail the query where the doc promises exact
    # integers. The BIGINT output cast then fails loudly (both engines)
    # only when the true product itself exceeds 63 bits.
    dec = "decimal(38,0)"
    joint = F.col("pair_n").cast(dec) * F.col("n_tokens")
    indep = F.col("w1_n").cast(dec) * F.col("w2_n")
    return j.select(
        "w1",
        "w2",
        "pair_n",
        "w1_n",
        "w2_n",
        joint.cast("long").alias("joint_scaled"),
        indep.cast("long").alias("indep_scaled"),
        (joint.cast("double") / indep.cast("double")).alias("pmi_odds"),
    )


HASH_DIM = 1024  # feature-hashing dimensionality


@register(
    "text_hashing_features",
    oracle=f"""
    WITH ex AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    )
    SELECT doc_id,
           CAST({sql_hash60("word")} % {HASH_DIM} AS INTEGER) AS feature_idx,
           COUNT(*) AS tf
    FROM ex
    GROUP BY doc_id, feature_idx
    """,
    tags=("text", "features"),
    doc=f"Feature hashing (the HashingVectorizer trick):every token maps to "
    f"hash60(word) mod {HASH_DIM} and per-doc counts land in a fixed-"
    "width sparse feature space — no vocabulary pass, no fitted state, "
    "so featurization is a single map+aggregate that never changes "
    "when the corpus grows (the property that lets a 100 TB corpus "
    "featurize in one pass and stream increments later). Collisions "
    "are the accepted price (dimensionality knob trades them against "
    "width). hash60 is the engine-portable hash the whole split/"
    "sample/shingle stack already gates on, so the feature indices "
    "are reproducible across engines, retries, and cluster sizes.",
)
def text_hashing_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = spread(t(spark, sf_dir, "documents")).select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    return (
        ex.select(
            "doc_id", (hash60("word") % HASH_DIM).cast("int").alias("feature_idx")
        )
        .groupBy("doc_id", "feature_idx")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


# --- PII detection & redaction -----------------------------------------------

# Java-regex/RE2-portable subset only (same contract as _STOPWORD_RE):
# character classes, bounded repetition, and ASCII \b — no lookaround, no
# backreferences, so Spark (java.util.regex) and DuckDB (RE2) match the
# identical spans.
_PII_EMAIL_RE = r"[0-9A-Za-z._%+-]+@[0-9A-Za-z.-]+\.[A-Za-z]{2,}"
_PII_IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
_PII_PHONE_RE = r"\b[0-9]{3}-[0-9]{4}\b"


@register(
    "text_pii_scrub",
    bench=True,
    oracle=f"""
    WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@ex' || CAST(doc_id % 10 AS VARCHAR) || '.com call '
                    || CAST((doc_id % 900) + 100 AS VARCHAR) || '-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    || ' from ' || CAST(doc_id % 256 AS VARCHAR)
                    || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                    || '.' || CAST((doc_id * 13) % 256 AS VARCHAR)
                    || '.' || CAST((doc_id * 31) % 256 AS VARCHAR) AS aug
        FROM documents
    ),
    scrubbed AS (
        SELECT doc_id, aug,
               regexp_replace(aug, '{_PII_EMAIL_RE}', '<EMAIL>', 'g') AS e_red,
               regexp_replace(
                   regexp_replace(aug, '{_PII_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_PII_IP_RE}', '<IP>', 'g') AS ei_red
        FROM aug
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(aug, '{_PII_EMAIL_RE}')) AS INTEGER)
               AS n_emails,
           CAST(len(regexp_extract_all(e_red, '{_PII_IP_RE}')) AS INTEGER)
               AS n_ips,
           CAST(len(regexp_extract_all(ei_red, '{_PII_PHONE_RE}')) AS INTEGER)
               AS n_phones,
           regexp_replace(ei_red, '{_PII_PHONE_RE}', '<PHONE>', 'g')
               AS redacted,
           CAST(length(aug)
              - length(regexp_replace(ei_red, '{_PII_PHONE_RE}', '<PHONE>',
                                      'g')) AS INTEGER) AS n_chars_removed
    FROM scrubbed
    """,
    tags=("text", "clean", "pii"),
    doc="PII detection + redaction — the scrub stage every production "
    "training-data pipeline runs before anything else (emails, dotted-quad "
    "IPs, phone-shaped numbers -> typed placeholders, with per-doc match "
    "counts for the QC report). The fixture text carries no PII, so each "
    "doc is first augmented IN-PLAN with synthetic identifiers derived "
    "deterministically from doc_id (the mm_phash_image_dedup pattern: "
    "construct the payload the operator must find, then prove the finder "
    "against an oracle that predicts it) — the regexes then run against "
    "real mixed text. Redaction order is fixed (emails, then IPs, then "
    "phones), counts run on the progressively redacted text so they "
    "describe the placeholders actually written (a dotted quad inside "
    "an email local part is the email's, not a phantom IP), and the "
    "patterns are the portable Java/RE2 subset, so both "
    "engines rewrite the identical spans. Pure map-side expression work: "
    "no shuffle, no explode, no UDF — at 100 TB this fuses into the "
    "ingest scan and costs one pass, which is why the regex subset "
    "matters (RE2-safe patterns also bound worst-case time linearly, no "
    "catastrophic backtracking on adversarial documents).",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    aug = F.concat(
        F.col("text"), F.lit(" contact user"), s(d),
        F.lit("@ex"), s(d % 10), F.lit(".com call "),
        s((d % 900) + 100), F.lit("-"),
        F.lpad(s(d % 10000), 4, "0"),
        F.lit(" from "), s(d % 256),
        F.lit("."), s((d * 7) % 256),
        F.lit("."), s((d * 13) % 256),
        F.lit("."), s((d * 31) % 256),
    )
    # Counts run on the PROGRESSIVELY redacted text (IPs counted after
    # emails are gone, phones after both), so each count describes the
    # placeholders actually written — a dotted quad inside an email's
    # local part is reported as part of the email, not double-counted
    # as an IP that was never separately redacted.
    e_red = F.regexp_replace("aug", _PII_EMAIL_RE, "<EMAIL>")
    staged = docs.select("doc_id", aug.alias("aug")).withColumn(
        "e_red", e_red
    ).withColumn("ei_red", F.regexp_replace("e_red", _PII_IP_RE, "<IP>"))
    redacted = F.regexp_replace("ei_red", _PII_PHONE_RE, "<PHONE>")
    return staged.select(
        "doc_id",
        F.regexp_count("aug", F.lit(_PII_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count("e_red", F.lit(_PII_IP_RE)).cast("int").alias("n_ips"),
        F.regexp_count("ei_red", F.lit(_PII_PHONE_RE)).cast("int").alias("n_phones"),
        redacted.alias("redacted"),
        (F.length("aug") - F.length(redacted)).cast("int").alias("n_chars_removed"),
    )


# --- RAG chunking ------------------------------------------------------------

CHUNK_TOK = 32     # tokens per chunk
CHUNK_STRIDE = 24  # tokens between chunk starts (8-token overlap)


def _chunk_oracle(src: str = "documents") -> str:
    """text_chunk_for_rag's oracle over any (doc_id, text) relation —
    parameterized for composed-pipeline nesting (corpus_pipeline_e2e)."""
    return f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM {src}
    ),
    st AS (
        SELECT doc_id, toks, n,
               CAST(unnest(generate_series(1,
                   greatest(1, n - {CHUNK_TOK - CHUNK_STRIDE}),
                   {CHUNK_STRIDE})) AS INTEGER) AS start_tok
        FROM tok
    )
    SELECT doc_id,
           CAST((start_tok - 1) // {CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
           start_tok,
           CAST(least(start_tok + {CHUNK_TOK - 1}, n) - start_tok + 1
               AS INTEGER) AS n_tokens,
           array_to_string(
               toks[start_tok:least(start_tok + {CHUNK_TOK - 1}, n)], ' ')
               AS chunk_text
    FROM st
    ORDER BY doc_id, chunk_idx
    """


@register(
    "text_chunk_for_rag",
    bench=True,
    oracle=_chunk_oracle(),
    tags=("text", "rag"),
    doc=f"Overlapping-window chunking — the retrieval-unit split every "
    f"RAG ingestion runs between cleaning and embedding: {CHUNK_TOK}-"
    f"token chunks at stride {CHUNK_STRIDE} (so consecutive chunks "
    f"share {CHUNK_TOK - CHUNK_STRIDE} tokens and no sentence straddles "
    f"a hard cut unseen), each with (doc_id, chunk_idx, start_tok, "
    f"n_tokens) so retrieval hits map back to exact source spans — the "
    f"coordinates sim_knn_mmr's picks and dedup_substring_spans' "
    f"offsets join against. Starts stop at n − (tok − stride), so a "
    f"chunk is emitted only while it contributes NEW tokens — the "
    f"trailing start that would produce a strict sub-span of the "
    f"previous chunk (pure near-dup noise to embed and retrieve) is "
    f"never generated. Pure map-side generator work (sequence + "
    f"slice + posexplode): no shuffle, fuses into the ingest scan; the "
    f"~{CHUNK_TOK}/{CHUNK_STRIDE}x row expansion is the declared price "
    f"of the retrieval grain, absorbed map-side exactly like "
    f"text_word_freq_topk's explode.",
)
def text_chunk_for_rag(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_for_rag(spread(t(spark, sf_dir, "documents")).select("doc_id", "text"))


def chunk_for_rag(docs: DataFrame) -> DataFrame:
    """The chunking law over any (doc_id, text) frame — frame-level core
    behind text_chunk_for_rag, exposed for composed pipelines."""
    toks = F.split("text", " ")
    staged = docs.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    chunks = staged.select(
        "doc_id",
        "n",
        "toks",
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.lit(1), F.col("n") - (CHUNK_TOK - CHUNK_STRIDE)),
                F.lit(CHUNK_STRIDE),
            )
        ).alias("start_tok"),
    )
    n_tokens = F.least(
        F.col("start_tok") + (CHUNK_TOK - 1), F.col("n")
    ) - F.col("start_tok") + 1
    return chunks.select(
        "doc_id",
        ((F.col("start_tok") - 1) / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.col("start_tok").cast("int").alias("start_tok"),
        n_tokens.cast("int").alias("n_tokens"),
        F.concat_ws(
            " ", F.slice("toks", F.col("start_tok"), CHUNK_TOK)
        ).alias("chunk_text"),
    ).orderBy("doc_id", "chunk_idx")


# --- BPE merge training ------------------------------------------------------

BPE_MERGES = 8  # unrolled training rounds (one merge learned per round)
# Lazy plan-boundary interval (in rounds). 4, not 8: interval 8 was measured
# (48 merges, same protocol) at 37.2s vs interval 4's 24.8s — the
# analysis cost is super-linear WITHIN a segment well before the
# catastrophic ~depth-10 knee, so short segments win even though they
# checkpoint twice as often; and the hoped-for saving on the 8-merge
# bench query (zero checkpoints) was inside session noise.
BPE_CKPT_EVERY = 4


def _bpe_round_parts(k: int, train_docs_where: str = "") -> list[str]:
    """CTE parts replaying the BPE trainer through seqs{k}
    (``train_docs_where`` optionally restricts the TRAINING documents —
    the encode-unseen oracle trains on half the corpus). Per round r
    over seqs{r-1}(word,
    n, toks): adjacent-pair counts weighted by word frequency, the
    argmax pair (ties: lexicographic a then b), and the greedy
    left-to-right non-overlapping merge — expressed RELATIONALLY via
    run parity: consecutive match positions form a run (pos minus
    row_number is constant), and greedy-from-the-left takes exactly the
    odd-ranked positions of each run. The same law, CTE for CTE, as the
    Spark builder — no fold/reduce anywhere, so both engines agree on
    chains like 'aaaa' merging to ('aa','aa'), not ('a','aa','a').
    The argmax joins back as LEFT JOIN ON TRUE, not CROSS JOIN: when a
    round finds no pairs (vocabulary exhausted before k merges), the
    empty tp{r} must pass the vocabulary THROUGH unchanged — a cross
    join would annihilate seqs{r} and zero out the encode oracle, while
    the Spark trainer breaks and keeps the last vocabulary."""
    parts = [
        f"""w0 AS MATERIALIZED (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS word
              FROM documents {train_docs_where})
        WHERE word != '' GROUP BY word)""",
        """seqs0 AS MATERIALIZED (
        SELECT word, n,
               list_transform(range(1, len(word) + 1), i -> word[i]) AS toks
        FROM w0)""",
    ]
    for r in range(1, k + 1):
        p = r - 1
        parts.append(
            f"""px{r} AS MATERIALIZED (
        SELECT word, n, CAST(generate_subscripts(toks, 1) AS BIGINT) AS pos,
               unnest(toks) AS tok
        FROM seqs{p})"""
        )
        parts.append(
            f"""pr{r} AS MATERIALIZED (
        SELECT word, n, pos, tok AS a,
               LEAD(tok) OVER (PARTITION BY word ORDER BY pos) AS b
        FROM px{r})"""
        )
        parts.append(
            f"""tp{r} AS MATERIALIZED (
        SELECT a, b, CAST(SUM(n) AS BIGINT) AS cnt
        FROM pr{r} WHERE b IS NOT NULL
        GROUP BY a, b
        ORDER BY cnt DESC, a, b LIMIT 1)"""
        )
        parts.append(
            f"""tk{r} AS MATERIALIZED (
        SELECT word, pos FROM (
            SELECT word, pos,
                   ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY pos) AS rn2
            FROM (
                SELECT p.word, p.pos,
                       p.pos - ROW_NUMBER() OVER (
                           PARTITION BY p.word ORDER BY p.pos) AS grp
                FROM pr{r} p JOIN tp{r} t ON p.a = t.a AND p.b = t.b
            )
        ) WHERE rn2 % 2 = 1)"""
        )
        parts.append(
            f"""seqs{r} AS MATERIALIZED (
        SELECT word, n, list(tok ORDER BY pos) AS toks FROM (
            SELECT p.word, p.n, p.pos,
                   CASE WHEN t1.pos IS NOT NULL THEN t.a || t.b
                        ELSE p.tok END AS tok
            FROM px{r} p
            LEFT JOIN tp{r} t ON TRUE
            LEFT JOIN tk{r} t1 ON t1.word = p.word AND t1.pos = p.pos
            LEFT JOIN tk{r} t0 ON t0.word = p.word AND t0.pos = p.pos - 1
            WHERE t0.pos IS NULL
        ) GROUP BY word, n)"""
        )
    return parts


def _bpe_oracle(k: int) -> str:
    """Trainer output: the k learned merges in rank order."""
    body = ",\n    ".join(_bpe_round_parts(k))
    sel = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({r} AS INTEGER) AS merge_rank, a AS lhs, b AS rhs,"
        f" cnt AS pair_count FROM tp{r}"
        for r in range(1, k + 1)
    )
    return f"WITH {body}\n    {sel}"


def _bpe_encode_oracle(k: int) -> str:
    """Encode output: documents re-tokenized under the FINAL merged
    vocabulary (seqs{k}) — per-doc BPE token count, tokenized chars, and
    the chars-per-token compression the merges bought."""
    body = ",\n    ".join(_bpe_round_parts(k))
    return f"""WITH {body}
    SELECT d.doc_id,
           CAST(SUM(len(s.toks)) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(len(s.word)) AS BIGINT) AS n_chars_tokenized,
           CAST(FLOOR(CAST(SUM(len(s.word)) AS DOUBLE)
                / SUM(len(s.toks)) * 10000) AS DOUBLE) / 10000
               AS chars_per_token
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ) d
    JOIN seqs{k} s ON s.word = d.word
    WHERE d.word != ''
    GROUP BY d.doc_id"""


def _bpe_encode_unseen_oracle(k: int) -> str:
    """The tokenizer-apply law for NEW text: merges learned on the even
    half of the corpus (the trainer CTEs, train_docs_where), then
    REPLAYED in rank order over the FULL union vocabulary (the u-chain
    below — application-only rounds joining the trainer's tp{r}, same
    run-parity law, same empty-round pass-through), and every document
    encoded under the replayed vocabulary. States the same
    old-artifact/union-corpus law as sim_knn_ivf_upsert's oracle."""
    parts = _bpe_round_parts(k, train_docs_where="WHERE doc_id % 2 = 0")
    parts.append(
        """u0 AS MATERIALIZED (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word != '' GROUP BY word)"""
    )
    parts.append(
        """useqs0 AS MATERIALIZED (
        SELECT word, n,
               list_transform(range(1, len(word) + 1), i -> word[i]) AS toks
        FROM u0)"""
    )
    for r in range(1, k + 1):
        p = r - 1
        parts.append(
            f"""upx{r} AS MATERIALIZED (
        SELECT word, n, CAST(generate_subscripts(toks, 1) AS BIGINT) AS pos,
               unnest(toks) AS tok
        FROM useqs{p})"""
        )
        parts.append(
            f"""upr{r} AS MATERIALIZED (
        SELECT word, n, pos, tok AS a,
               LEAD(tok) OVER (PARTITION BY word ORDER BY pos) AS b
        FROM upx{r})"""
        )
        parts.append(
            f"""utk{r} AS MATERIALIZED (
        SELECT word, pos FROM (
            SELECT word, pos,
                   ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY pos) AS rn2
            FROM (
                SELECT p.word, p.pos,
                       p.pos - ROW_NUMBER() OVER (
                           PARTITION BY p.word ORDER BY p.pos) AS grp
                FROM upr{r} p JOIN tp{r} t ON p.a = t.a AND p.b = t.b
            )
        ) WHERE rn2 % 2 = 1)"""
        )
        parts.append(
            f"""useqs{r} AS MATERIALIZED (
        SELECT word, n, list(tok ORDER BY pos) AS toks FROM (
            SELECT p.word, p.n, p.pos,
                   CASE WHEN t1.pos IS NOT NULL THEN t.a || t.b
                        ELSE p.tok END AS tok
            FROM upx{r} p
            LEFT JOIN tp{r} t ON TRUE
            LEFT JOIN utk{r} t1 ON t1.word = p.word AND t1.pos = p.pos
            LEFT JOIN utk{r} t0 ON t0.word = p.word AND t0.pos = p.pos - 1
            WHERE t0.pos IS NULL
        ) GROUP BY word, n)"""
        )
    body = ",\n    ".join(parts)
    return f"""WITH {body}
    SELECT d.doc_id,
           CAST(SUM(len(s.toks)) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(len(s.word)) AS BIGINT) AS n_chars_tokenized,
           CAST(FLOOR(CAST(SUM(len(s.word)) AS DOUBLE)
                / SUM(len(s.toks)) * 10000) AS DOUBLE) / 10000
               AS chars_per_token
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ) d
    JOIN useqs{k} s ON s.word = d.word
    WHERE d.word != ''
    GROUP BY d.doc_id"""


@register(
    "text_bpe_encode_unseen",
    oracle=_bpe_encode_unseen_oracle(BPE_MERGES),
    tags=("text", "iterative", "training", "index"),
    doc="Tokenize text the trainer NEVER SAW — the capability that makes "
    "a trained tokenizer deployable, completing the apply story the way "
    "sim_knn_ivf_upsert completes the index story (old artifact, union "
    "corpus): merges are learned on the EVEN-doc_id half of the corpus, "
    "then every document — including odd-doc words absent from the "
    "training vocabulary — is encoded. Seen words take their trained "
    "token sequence from the vocabulary cache by JOIN; ONLY the unseen "
    "words (left_anti against the cache) replay the learned merges in "
    "rank order (bpe_apply_merges — one window pass per merge over the "
    "UNSEEN vocabulary frame, never the corpus, sharing _apply_pairs "
    "with the trainer). Replaying unseen-only then unioning the cache "
    "is value-identical to replaying the whole union vocabulary because "
    "per-word application is word-local and the trainer's own final "
    "vocabulary IS the sequential application of its merges — the "
    "oracle states the full-union form (trainer CTEs on the even half "
    "+ an application-only u-chain joining the trainer's tp rounds). "
    "At 100 TB this is the nightly encode-the-new-crawl job: replay "
    "cost scales with the NEW corpus's unseen vocabulary (typically "
    "tiny), the corpus itself is touched once by the encode join.",
)
def text_bpe_encode_unseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows, base_vocab = _bpe_train(
        spark, sf_dir, doc_where=(F.col("doc_id") % 2 == 0)
    )
    merges = [(r[1], r[2]) for r in rows]
    dw = (
        spread(t(spark, sf_dir, "documents").select("text"))
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    useqs0 = (
        dw.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "word",
            "n",
            F.expr(
                "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
            ).alias("toks"),
        )
    )
    seen = base_vocab.select("word", "toks")
    unseen0 = useqs0.join(seen.select("word"), "word", "left_anti")
    vocab = seen.unionByName(bpe_apply_merges(unseen0, merges).select("word", "toks"))
    return _bpe_encode_with_vocab(spark, sf_dir, vocab)


@register(
    "text_bpe_vocab_coverage",
    oracle="""
    WITH trainvocab AS (
        SELECT DISTINCT word FROM (
            SELECT unnest(string_split(text, ' ')) AS word
            FROM documents WHERE doc_id % 2 = 0)
        WHERE word != ''
    ),
    allw AS (
        SELECT word FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word != ''
    ),
    j AS (
        SELECT a.word, (t.word IS NULL) AS oov
        FROM allw a LEFT JOIN trainvocab t ON t.word = a.word
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov_tokens,
           CAST(FLOOR(CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS DOUBLE)
                / COUNT(*) * 10000) AS DOUBLE) / 10000 AS oov_token_rate,
           CAST(COUNT(DISTINCT word) AS BIGINT) AS n_types,
           CAST(COUNT(DISTINCT CASE WHEN oov THEN word END) AS BIGINT)
               AS n_oov_types,
           CAST(FLOOR(CAST(COUNT(DISTINCT CASE WHEN oov THEN word END) AS DOUBLE)
                / COUNT(DISTINCT word) * 10000) AS DOUBLE) / 10000
               AS oov_type_rate
    FROM j
    """,
    tags=("text", "qc", "training"),
    doc="Tokenizer-deployment QC: out-of-vocabulary rate of a trained "
    "vocabulary (the even-doc_id half, the same split text_bpe_encode_"
    "unseen trains on) measured over the FULL corpus — by token "
    "occurrences AND by distinct types. THE gate a 100 TB pipeline "
    "checks before shipping a tokenizer to a new crawl: a high "
    "token-level OOV rate means the merge replay path (encode_unseen) "
    "dominates encode cost and the tokenizer should be retrained; "
    "type-level vs token-level divergence separates a long tail of "
    "rare new words (cheap) from drift in the head (expensive). Plan: "
    "distinct-vocab broadcast left join over one exploded corpus pass; "
    "at scale both sides collapse to vocabulary-sized frames before "
    "the join.",
)
def text_bpe_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    dw = (
        spread(t(spark, sf_dir, "documents").select("doc_id", "text"))
        .select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    trainvocab = (
        dw.filter(F.col("doc_id") % 2 == 0).select("word").distinct()
        .withColumn("seen", F.lit(True))
    )
    j = dw.select("word").join(F.broadcast(trainvocab), "word", "left").select(
        "word", F.col("seen").isNull().alias("oov")
    )
    oovn = F.sum(F.when(F.col("oov"), 1).otherwise(0)).cast("long")
    rate = lambda num, den: (  # noqa: E731 — floor*1e4 per the oracle-parity rule
        F.floor(num.cast("double") / den.cast("double") * 10000).cast("double") / 10000
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        oovn.alias("n_oov_tokens"),
        rate(oovn, F.count(F.lit(1))).alias("oov_token_rate"),
        F.countDistinct("word").cast("long").alias("n_types"),
        F.countDistinct(F.when(F.col("oov"), F.col("word"))).cast("long").alias(
            "n_oov_types"
        ),
        rate(
            F.countDistinct(F.when(F.col("oov"), F.col("word"))),
            F.countDistinct("word"),
        ).alias("oov_type_rate"),
    )


@register(
    "text_bpe_train_merges",
    oracle=_bpe_oracle(BPE_MERGES),
    bench=True,
    tags=("text", "iterative", "training"),
    doc=f"BPE tokenizer TRAINING — the iterative-text counterpart of the "
    "fixed-point k-means trainer, oracle-gated end-to-end: learn the "
    f"first {BPE_MERGES} byte-pair merges over the corpus. The classic "
    "trainer trick makes it corpus-size independent after one pass: "
    "aggregate to (DISTINCT word, frequency) — the ONLY corpus-scale "
    "stage — then every round runs on the vocabulary frame (millions "
    "of short char arrays at 100 TB, not billions of documents). Per "
    "round: adjacent-pair counts weighted by word frequency (exact "
    "BIGINT sums), argmax pair with lexicographic tie-break, then the "
    "greedy left-to-right non-overlapping merge expressed relationally "
    "— consecutive match positions group into runs (pos − row_number "
    "constant) and greedy takes the odd-ranked position of each run — "
    "so overlapping chains ('aaaa' under merge (a,a)) resolve "
    "identically in Spark and the unrolled SQL, with no fold/UDF. "
    "Merged tokens participate in later rounds naturally because each "
    "round re-derives pairs from the rebuilt sequences. Emits "
    "(merge_rank, lhs, rhs, pair_count) — the merges file a tokenizer "
    "ships. Plan: one corpus scan, then per round a word-keyed window "
    "chain (single pass, no self-joins) over the cached vocabulary "
    "frame; the per-round argmax is ONE row collected and re-entered "
    "as literals (the bounded-small driver round-trip the QC scalars "
    "use) — inlining it keeps the plan linear where a lazy 1-row "
    "crossJoin would branch the lineage into 2^rounds analysis cost.",
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows, _seqs = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        rows, "merge_rank int, lhs string, rhs string, pair_count bigint"
    )


def _bpe_train(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = BPE_MERGES,
    doc_where=None,
    batch: int = 1,
):
    """Run the trainer; returns (learned merges as plain rows, the final
    merged vocabulary frame seqs(word, n, toks) — cached). Shared by the
    trainer queries and the encoders. ``n_merges`` parameterizes the
    merge count (SCALE.md records the merges-vs-wall regime curve);
    ``doc_where`` optionally restricts the TRAINING corpus (the
    encode-unseen split trains on half the documents).

    Each round selects the top-``batch`` SYMBOL-DISJOINT pairs (greedy
    by (count desc, a, b) over a bounded 4*batch candidate collect) and
    applies them all in ONE vocabulary pass (_apply_pairs). batch=1 is
    classic greedy BPE — one merge per round, the argmax pair. At
    batch > 1 the ONE deviation from strict greedy BPE is that pairs
    2..B of a round are chosen by PRE-round counts (stale by the round's
    earlier merges) and their recorded pair_count is that stale count;
    the measured merge-set deviation is recorded in SCALE.md.

    Why batches exist: greedy BPE is one driver round-trip + one
    vocabulary pass PER MERGE — fine at 8, fatal at a production 30k
    (SCALE.md's regime bound). Batch-B cuts the sequential-round count
    B-fold: 30k merges at batch 256 is ~120 rounds, back inside the
    driver-loop regime the k-means trainer already owns."""
    base = t(spark, sf_dir, "documents")
    if doc_where is not None:
        base = base.filter(doc_where)
    docs = spread(base.select("text"))
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    seqs = pin(wf.select(
        "word",
        "n",
        F.expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
        ).alias("toks"),
    ))

    rows: list[tuple[int, str, str, int]] = []
    generations = [seqs]  # pinned frames; all but the last two are released
    rounds = 0
    while len(rows) < n_merges:
        rounds += 1
        # Lineage truncation every BPE_CKPT_EVERY rounds: the round-10
        # merges-vs-wall measurement (SCALE.md) showed per-round wall
        # DOUBLING from ~round 10 (1.4s -> 182s by round 17) as Catalyst
        # re-analyzes the deepening lineage; a lazy boundary holds
        # per-round cost flat at any merge count. Skipped on the final
        # round (the one that can learn every remaining merge):
        # truncation only pays off for rounds that FOLLOW it, so the
        # registered 8-merge query pays exactly one boundary.
        if rounds % BPE_CKPT_EVERY == 0 and n_merges - len(rows) > batch:
            seqs = boundary(seqs, eager=False)
        cands = (
            _bpe_pair_counts(seqs)
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(4 * batch)
            .collect()
        )
        # This round's collect materialized the newest cached frame, so
        # everything two generations back is dead — release it (the
        # newest frame stays lazy and recomputes from its cached parent).
        if len(generations) >= 2:
            release(generations[-2])
        if not cands:
            break
        want = min(batch, n_merges - len(rows))
        used: set[str] = set()
        sel: list[tuple[str, str]] = []
        for c in cands:
            if len(sel) >= want:
                break
            # Exclusion set covers each selected pair's CONCAT as well
            # as its symbols: a pair whose symbol equals another
            # selected pair's output (e.g. (t,h) with (th,e)) would
            # make simultaneous != sequential. Under the trainer's own
            # dynamics that state is unreachable — "th" existing as a
            # token implies (t,h) was merged earlier, which consumed
            # every (t,h) adjacency, and merges never re-create a
            # bare-symbol adjacency (both neighbors of a merge are
            # replaced by the grown token) — but guarding it here makes
            # the disjointness invariant locally checkable instead of
            # resting on that global argument.
            a, b = c["a"], c["b"]
            if a in used or b in used or (a + b) in used:
                continue
            sel.append((a, b))
            rows.append((len(rows) + 1, a, b, int(c["cnt"])))
            used.update((a, b, a + b))
        seqs = pin(_apply_pairs(seqs, sel))
        generations.append(seqs)

    return rows, seqs


def _bpe_pair_counts(seqs: DataFrame) -> DataFrame:
    """Frequency-weighted adjacent-pair counts ``(a, b, cnt)`` over a
    vocabulary frame ``seqs(word, n, toks)`` — ROW-LOCAL (r15): pairs
    come straight off each token array (struct(toks[i], toks[i+1])), so
    the only exchange is the (a, b) groupBy with its map-side partial
    aggregate. The previous formulation exploded to one row per token
    and ran a word-partitioned lead() window first, paying a full
    vocabulary shuffle + sort per round before counting — measured
    ~1.36x on the 8-merge trainer at sf0.1, and strictly fewer
    per-round exchanges at any scale (guide §2.4). Shared by the greedy
    and batched trainers so the counting law cannot drift."""
    prs = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.struct(
                F.element_at("toks", i).alias("a"),
                F.element_at("toks", i + 1).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    ex = seqs.select("n", F.explode(prs).alias("p"))
    return ex.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
        F.sum("n").alias("cnt")
    )


def _apply_pairs(seqs: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """One greedy left-to-right non-overlapping merge pass of the
    SYMBOL-DISJOINT ``pairs`` over a vocabulary frame ``seqs(word, n,
    toks)`` — THE application law, shared by the trainer rounds and
    merge REPLAY (bpe_apply_merges). ROW-LOCAL (r15): a left-fold over
    each token array (F.aggregate) that appends the current token, or —
    when (last token, current token) is one of ``pairs`` and the last
    token was NOT itself produced by this pass's previous step (the
    non-overlap rule) — replaces it with the merged token
    concat(last, current). For one pair this is exactly the run-parity
    law the old window formulation computed (consecutive-match runs,
    odd ranks taken): within a run of consecutive matches the fold
    alternates merge/skip from the run's start. The window version paid
    a word-partitioned shuffle + 4 window passes + a collect_list
    regroup PER MERGE; the fold touches nothing but the row (guide
    §2.4: remove shuffles outright).

    Several pairs apply simultaneously because they share no symbols:
    a position can match at most one pair, and ADJACENT positions can
    never match different pairs (position i matching (a, b) forces
    tok[i+1] = b, which no other pair may contain) — every run of
    consecutive matches is single-pair, so the single-pair law applies
    verbatim, and one pass equals applying the pairs sequentially in
    any order. Value identity pinned by the unrolled-SQL oracles."""
    zero = F.struct(
        F.array().cast("array<string>").alias("arr"),
        F.lit(False).alias("just"),
    )

    def step(acc, x):
        last = F.try_element_at(acc["arr"], F.lit(-1))
        match = reduce(
            lambda m, p: m | p,
            [(last == F.lit(a)) & (x == F.lit(b)) for a, b in pairs],
        )
        return F.when(
            match & (~acc["just"]),
            F.struct(
                F.concat(
                    F.slice(acc["arr"], 1, F.size(acc["arr"]) - 1),
                    F.array(F.concat(last, x)),
                ).alias("arr"),
                F.lit(True).alias("just"),
            ),
        ).otherwise(
            F.struct(
                F.concat(acc["arr"], F.array(x)).alias("arr"),
                F.lit(False).alias("just"),
            )
        )

    out = F.aggregate("toks", zero, step, lambda acc: acc["arr"])
    return seqs.select("word", "n", out.alias("toks"))


def bpe_apply_merges(seqs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Tokenizer APPLY: replay an already-learned merge list, in rank
    order, over a vocabulary frame ``seqs(word, n, toks)`` — what
    encoding a NEW corpus with a trained tokenizer does. One row-local
    fold per merge over the vocabulary (never the corpus — and since
    r15 never a shuffle either, see _apply_pairs), with the same lazy
    plan-boundary cadence as the trainer."""
    for i, (a, b) in enumerate(merges, start=1):
        if i % BPE_CKPT_EVERY == 0 and i < len(merges):
            seqs = boundary(seqs, eager=False)
        seqs = _apply_pairs(seqs, [(a, b)])
    return seqs


@register(
    "text_bpe_encode",
    oracle=_bpe_encode_oracle(BPE_MERGES),
    tags=("text", "iterative", "training"),
    doc="Tokenize WITH the trained tokenizer — the apply half that "
    "completes text_bpe_train_merges the way trained-IVF search "
    f"completes its trainer: re-train the {BPE_MERGES} merges (shared "
    "_bpe_train, bit-identical by construction), then re-tokenize every "
    "document under the FINAL merged vocabulary and emit per-doc BPE "
    "token count, tokenized chars, and the chars-per-token compression "
    "the merges bought. Encoding is a JOIN, not a per-doc replay: the "
    "vocabulary frame already holds each distinct word's merged token "
    "sequence, so documents explode to words once and join the vocab on "
    "the word key — at 100 TB that is the one corpus-scale pass, with "
    "the vocab frame shuffle-joined (or broadcast when it fits) and "
    "every count an exact integer. The oracle replays the identical "
    "rounds and the identical join.",
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    _rows, seqs = _bpe_train(spark, sf_dir)
    return _bpe_encode_with_vocab(spark, sf_dir, seqs)


def _bpe_encode_with_vocab(
    spark: SparkSession, sf_dir: str, vocab: DataFrame
) -> DataFrame:
    """The encode tail shared by the inline and persisted-artifact
    paths: explode documents to words once, join the (word, toks)
    vocabulary, aggregate per-doc token stats."""
    dw = (
        spread(t(spark, sf_dir, "documents").select("doc_id", "text"))
        .select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    joined = dw.join(vocab.select("word", "toks"), "word")
    ratio = (
        F.floor(
            F.sum(F.length("word")).cast("double")
            / F.sum(F.size("toks")).cast("double")
            * 10000
        ).cast("double")
        / 10000
    )
    return joined.groupBy("doc_id").agg(
        F.sum(F.size("toks")).alias("n_bpe_tokens"),
        F.sum(F.length("word")).alias("n_chars_tokenized"),
        ratio.alias("chars_per_token"),
    )


def write_bpe_artifacts(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Train the BPE merges over ``sf_dir``'s documents and persist the
    tokenizer artifacts under ``path`` — the train-once / encode-many
    shape (sources/ann_index.py's discipline applied to the tokenizer):

    - ``merges/`` — (merge_rank, lhs, rhs, pair_count): the merges file
      a tokenizer ships; what an *unseen-word* encoder would replay.
    - ``vocab/``  — (word, toks): each distinct corpus word's final
      merged token sequence — the precomputed word→tokens cache real
      tokenizer services front their merge table with. Encoding a
      corpus is then ONE join, no merge replay at all.

    Strings round-trip through parquet exactly, so a persisted-vocab
    encode hash-matches the inline path under the identical oracle."""
    import os

    rows, seqs = _bpe_train(spark, sf_dir)
    spark.createDataFrame(
        rows, "merge_rank int, lhs string, rhs string, pair_count bigint"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "merges"))
    seqs.select("word", "toks").write.mode("overwrite").parquet(
        os.path.join(path, "vocab")
    )


def _bpe_batched_oracle(n_merges: int, batch: int) -> str:
    """ANSI replay of the BATCHED trainer — graduates it from rows-only
    to hash-gated (round-11 brief): the driver-side greedy disjoint
    selection IS replayable because its candidate pool is bounded
    (4*batch rows) and each pick depends only on earlier picks — so the
    selection unrolls as one CTE pair per pick (sel = the lowest-rank
    candidate whose a, b, and concat avoid every symbol selected so
    far; used = the accumulated symbol set), exactly the loop
    _bpe_train runs over its collect. The batch application
    reuses the single-pair run-parity law verbatim with the match set
    joined against the round's selected pairs (runs of consecutive
    matches are single-pair under symbol-disjointness — see
    _apply_pairs), and the merged token is position-local
    (p.a || p.b). One spare round is unrolled beyond ceil(n/batch) and
    the output LIMITed to n_merges, so a round that under-fills (fewer
    than ``batch`` disjoint pairs in its pool — unseen on real text)
    still replays exactly; the greedy-prefix property makes the extra
    SQL picks/applications of the final partial round output-invisible,
    matching the Spark trainer's want-capped last round."""
    rounds = (n_merges + batch - 1) // batch + 1
    parts = [
        """w0 AS MATERIALIZED (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word != '' GROUP BY word)""",
        """seqs0 AS MATERIALIZED (
        SELECT word, n,
               list_transform(range(1, len(word) + 1), i -> word[i]) AS toks
        FROM w0)""",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f"""px{r} AS MATERIALIZED (
        SELECT word, n, CAST(generate_subscripts(toks, 1) AS BIGINT) AS pos,
               unnest(toks) AS tok
        FROM seqs{p})"""
        )
        parts.append(
            f"""pr{r} AS MATERIALIZED (
        SELECT word, n, pos, tok AS a,
               LEAD(tok) OVER (PARTITION BY word ORDER BY pos) AS b
        FROM px{r})"""
        )
        parts.append(
            f"""cands{r} AS MATERIALIZED (
        SELECT a, b, CAST(SUM(n) AS BIGINT) AS cnt,
               ROW_NUMBER() OVER (ORDER BY SUM(n) DESC, a, b) AS rk
        FROM pr{r} WHERE b IS NOT NULL
        GROUP BY a, b
        ORDER BY cnt DESC, a, b LIMIT {4 * batch})"""
        )
        for i in range(1, batch + 1):
            if i == 1:
                parts.append(
                    f"sel{r}_1 AS MATERIALIZED (SELECT a, b, cnt FROM cands{r}"
                    " ORDER BY rk LIMIT 1)"
                )
            else:
                u = f"used{r}_{i - 1}"
                parts.append(
                    f"""sel{r}_{i} AS MATERIALIZED (
        SELECT a, b, cnt FROM cands{r}
        WHERE a NOT IN (SELECT sym FROM {u})
          AND b NOT IN (SELECT sym FROM {u})
          AND a || b NOT IN (SELECT sym FROM {u})
        ORDER BY rk LIMIT 1)"""
                )
            if i < batch:
                prev = f"SELECT sym FROM used{r}_{i - 1} UNION ALL " if i > 1 else ""
                parts.append(
                    f"""used{r}_{i} AS MATERIALIZED (
        {prev}SELECT a AS sym FROM sel{r}_{i}
        UNION ALL SELECT b FROM sel{r}_{i}
        UNION ALL SELECT a || b FROM sel{r}_{i})"""
                )
        sel_union = "\n        UNION ALL ".join(
            f"SELECT {i} AS sel_idx, a, b, cnt FROM sel{r}_{i}"
            for i in range(1, batch + 1)
        )
        parts.append(f"sel{r} AS MATERIALIZED (\n        {sel_union})")
        parts.append(
            f"""tk{r} AS MATERIALIZED (
        SELECT word, pos, merged FROM (
            SELECT word, pos, merged,
                   ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY pos) AS rn2
            FROM (
                SELECT p.word, p.pos, p.a || p.b AS merged,
                       p.pos - ROW_NUMBER() OVER (
                           PARTITION BY p.word ORDER BY p.pos) AS grp
                FROM pr{r} p JOIN sel{r} s ON p.a = s.a AND p.b = s.b
            )
        ) WHERE rn2 % 2 = 1)"""
        )
        parts.append(
            f"""seqs{r} AS MATERIALIZED (
        SELECT word, n, list(tok ORDER BY pos) AS toks FROM (
            SELECT p.word, p.n, p.pos,
                   CASE WHEN t1.pos IS NOT NULL THEN t1.merged
                        ELSE p.tok END AS tok
            FROM px{r} p
            LEFT JOIN tk{r} t1 ON t1.word = p.word AND t1.pos = p.pos
            LEFT JOIN tk{r} t0 ON t0.word = p.word AND t0.pos = p.pos - 1
            WHERE t0.pos IS NULL
        ) GROUP BY word, n)"""
        )
    body = ",\n    ".join(parts)
    out_union = "\n        UNION ALL ".join(
        f"SELECT {r} AS rnd, sel_idx, a, b, cnt FROM sel{r}"
        for r in range(1, rounds + 1)
    )
    return f"""WITH {body}
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY rnd, sel_idx) AS INTEGER)
               AS merge_rank,
           a AS lhs, b AS rhs, cnt AS pair_count
    FROM ({out_union})
    ORDER BY rnd, sel_idx LIMIT {n_merges}"""


@register(
    "text_bpe_train_batched",
    oracle=_bpe_batched_oracle(BPE_MERGES * 2, 8),
    tags=("text", "iterative", "training"),
    doc=f"Batched BPE merge learning — lifts the greedy trainer's "
    "one-driver-round-trip-PER-MERGE regime bound (SCALE.md): each "
    "round selects the top-8 symbol-disjoint pairs from one bounded "
    "candidate collect and applies them in ONE vocabulary pass, so a "
    "production 30k-merge tokenizer needs ~B-fold fewer sequential "
    f"Spark jobs. Emits the same (merge_rank, lhs, rhs, pair_count) "
    f"surface as text_bpe_train_merges for {BPE_MERGES * 2} merges "
    "(two rounds at batch=8). Simultaneous application is exact "
    "because selected pairs share no symbols (adjacent positions can "
    "never match different pairs — see _apply_pairs); the only "
    "greedy deviation is stale counts for pairs 2..B of a round, "
    "measured and recorded in SCALE.md. The same loop at batch=1 IS "
    "the greedy trainer (_bpe_train), and since round 11 the "
    "batched trainer itself is HASH-GATED end-to-end: the bounded "
    "greedy disjoint selection unrolls to per-pick CTEs and the batch "
    "application replays under the shared run-parity law "
    "(_bpe_batched_oracle) — the last rows-only row that was "
    "SQL-replayable, graduated.",
)
def text_bpe_train_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows, _seqs = _bpe_train(spark, sf_dir, n_merges=BPE_MERGES * 2, batch=8)
    return spark.createDataFrame(
        rows, "merge_rank int, lhs string, rhs string, pair_count bigint"
    )


@register(
    "text_bpe_encode_persisted",
    oracle=_bpe_encode_oracle(BPE_MERGES),
    tags=("text", "iterative", "training", "index", "sink"),
    doc="BPE encode FROM PERSISTED TOKENIZER ARTIFACTS — the tokenizer "
    "twin of sim_knn_ivf_persisted, closing the re-train-per-query gap "
    "for the text side: the builder first writes the trained artifacts "
    "(write_bpe_artifacts — the (lhs, rhs) merges file a tokenizer "
    "ships, plus the (word, toks) vocabulary cache), then the returned "
    "ENCODE plan contains no trainer: it scans the vocab parquet and "
    "joins exploded document words against it — the 8 sequential "
    "trainer jobs are gone from the query path entirely. Strings "
    "round-trip through parquet exactly, so the persisted encode "
    "hash-matches text_bpe_encode under the IDENTICAL oracle. At "
    "100 TB the merge table is learned once on a sample or the full "
    "corpus by a maintenance job; every downstream tokenization run "
    "(epoch packing, token budgeting, surprisal scoring) reads the "
    "artifact — thousands of encode runs amortize one training. The "
    "vocab cache additionally makes encode incremental: only words "
    "NOT already in the cache need the merge replay (here the corpus "
    "vocabulary is closed, so the join covers every word).",
)
def text_bpe_encode_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from .formats import _roundtrip_dir

    path = _roundtrip_dir(spark, "bpeidx", sf_dir)
    write_bpe_artifacts(spark, sf_dir, path)  # the once-per-corpus train
    vocab = spark.read.parquet(os.path.join(path, "vocab"))
    return _bpe_encode_with_vocab(spark, sf_dir, vocab)


# ---------------------------------------------------------------------------
# C4-style within-corpus line dedup (round 12 — the one standard LLM-corpus
# preprocessing stage the catalog lacked: repeated-span/boilerplate removal)
# ---------------------------------------------------------------------------

LINE_WORDS = 8  # fixture "line" = 8-word segment (the corpus has no newlines)
# Position encoding for the global keep-first rule: one BIGINT per
# occurrence, ordered like (doc_id, pos). Exact while pos < 1e9 and
# doc_id < ~9.2e9 — far past any corpus this engine targets per-table.
_LINE_ENC = 1_000_000_000


def _line_dedup_oracle(src: str = "documents") -> str:
    """text_line_dedup's oracle over any (doc_id, text) relation ``src``
    — parameterized for composed-pipeline nesting (corpus_pipeline_e2e)."""
    return f"""
    WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS ord
        FROM {src}
    ),
    lines AS (
        SELECT doc_id, CAST(floor((ord - 1) / {LINE_WORDS}) AS BIGINT) AS pos,
               string_agg(word, ' ' ORDER BY ord) AS line
        FROM w GROUP BY doc_id, floor((ord - 1) / {LINE_WORDS})
    ),
    enc AS MATERIALIZED (
        SELECT doc_id, pos, line, md5(line) AS lh,
               doc_id * {_LINE_ENC} + pos AS e
        FROM lines
    ),
    firsts AS (SELECT lh, MIN(e) AS fe FROM enc GROUP BY lh)
    SELECT doc_id,
           COALESCE(string_agg(line, ' ' ORDER BY pos)
                        FILTER (WHERE e = fe), '') AS clean_text,
           CAST(COUNT(*) FILTER (WHERE e = fe) AS BIGINT) AS n_kept,
           CAST(COUNT(*) FILTER (WHERE e <> fe) AS BIGINT) AS n_dropped
    FROM enc JOIN firsts USING (lh)
    GROUP BY doc_id
    """


@register(
    "text_line_dedup",
    oracle=_line_dedup_oracle(),
    tags=("text", "dedup"),
    doc="C4-style repeated-span dedup WITHIN documents, corpus-wide — "
    "the preprocessing stage that strips boilerplate/duplicated spans "
    "while keeping documents intact (C4 discards all but one of any "
    f"span occurring more than once in the dataset). A 'line' is a "
    f"fixed {LINE_WORDS}-word segment (the fixture corpus has no "
    "newlines; on real text swap the segmenter for split-on-newline — "
    "the pipeline after it is unchanged). Fully relational, the shape "
    "VERDICT r11 prescribed: row-local segmentation (no explode until "
    "the segment frame), posexplode to (doc_id, pos, line), a "
    "16-byte-digest groupBy finds each line's globally FIRST "
    "occurrence (min (doc_id, pos), encoded as one BIGINT), every "
    "later occurrence drops, and per-doc sort_array(collect_list) "
    "reassembles surviving lines in original order. The shuffles "
    "carry md5 digests and line segments once each — never the "
    "document bodies twice — and the final aggregate is one exchange "
    "keyed on doc_id. Unique lines keep trivially (they ARE their "
    "group's minimum), so the single keep rule has no threshold "
    "parameter to tune. Empty-after-dedup documents stay in the "
    "output with clean_text = '' (corpus accounting needs the row).",
)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return line_dedup(spread(t(spark, sf_dir, "documents").select("doc_id", "text")))


def line_dedup(docs: DataFrame) -> DataFrame:
    """The relational core of text_line_dedup over any (doc_id, text)
    frame — exposed so the crafted-boilerplate pin (tests/test_text*)
    can drive it on a corpus with known repeated segments.

    Carries a derived-exactness guard (the _long_d2_guard discipline):
    the keep-first rule encodes (doc_id, pos) as doc_id*1e9 + pos in
    one BIGINT, exact only while pos < 1e9 and doc_id <= ~9.2e9. The
    bound aggregate rides inside the returned plan and assert_true
    raises on a corpus that exceeds it — never a silently wrong
    minimum."""
    words = F.split(F.col("text"), " ")
    n_lines_bound = F.ceil(F.size(words) / F.lit(LINE_WORDS))
    guard_safe = (F.max(n_lines_bound) < F.lit(_LINE_ENC)) & (
        F.max("doc_id") <= F.lit((2**63 - 1) // _LINE_ENC - 1)
    )
    guard = docs.agg(
        F.assert_true(
            F.coalesce(guard_safe, F.lit(True)),  # empty corpus → safe
            F.lit(
                "line_dedup: (doc_id, pos) exceeds the BIGINT encoding "
                "bound (pos < 1e9, doc_id <= 9.2e9); widen _LINE_ENC "
                "or switch the keep-first min to a struct"
            ),
        ).alias("enc_ok")
    )
    n_lines = F.ceil(F.size(words) / F.lit(LINE_WORDS)).cast("int")
    segs = F.when(
        F.size(words) > 0,
        F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.array_join(
                F.slice(words, i * LINE_WORDS + 1, LINE_WORDS), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = docs.select(
        "doc_id", F.posexplode(segs).alias("pos", "line")
    ).select(
        "doc_id",
        "pos",
        "line",
        F.md5("line").alias("lh"),
        (F.col("doc_id") * F.lit(_LINE_ENC) + F.col("pos")).alias("e"),
    )
    firsts = ex.groupBy("lh").agg(F.min("e").alias("fe"))
    flagged = ex.join(firsts, "lh").select(
        "doc_id", "pos", "line", (F.col("e") == F.col("fe")).alias("keep")
    )
    kept_lines = F.transform(
        F.filter(
            F.sort_array(F.collect_list(F.struct("pos", "line", "keep"))),
            lambda s: s["keep"],
        ),
        lambda s: s["line"],
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.array_join(kept_lines, " ").alias("clean_text"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
        )
        .crossJoin(F.broadcast(guard))
        .filter(F.col("enc_ok").isNull())
        .drop("enc_ok")
    )
