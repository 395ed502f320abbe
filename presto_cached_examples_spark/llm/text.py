"""Text-analysis operators over the `documents` table (SURVEY.md §2.B
q_text_*; north-star "text analysis" family).

All of these are single-pass, scan-shaped queries built from JVM-side
string/array/regex functions — at 100 TB they are bandwidth-bound scans
with trivial (small-key) aggregations, no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from presto_cached_examples_spark.registry import register
from presto_cached_examples_spark.plans.persistence import maybe_persist
from presto_cached_examples_spark.session import session_token
from presto_cached_examples_spark.sources.catalog import load_table, spread

#: (applicationId, sf_dir) → (bc, uni) checkpointed count tables shared
#: across q_text_pmi invocations in a session (copurchase_pairs
#: discipline — the vocabulary-bounded LM artifact is built once).
_PMI_CACHE: dict = {}

#: (applicationId, sf_dir) → checkpointed corpus bigram count table
#: (w1, w2, n_big) — the |V|^2-BOUNDED model artifact every bigram-LM
#: consumer shares (q_text_kn_bigram, the _doc_surprisal scorers).
#: Same state contract as _PMI_CACHE: in-process only, keyed on the
#: session token so a fresh driver recomputes everything; values are
#: builder-invariant (direct corpus aggregate ≡ doc-grain rollup —
#: pinned by tests/test_round16_opt.py).
_BIGRAM_BC_CACHE: dict = {}


def bigram_pairs(tk):
    """Array of (w1, w2) structs, one per pair of adjacent tokens in the
    token array ``tk``. A document with fewer than 2 tokens yields an
    empty array: both slices are empty, so no bigram and no error."""
    return F.zip_with(
        F.slice(tk, 1, F.size(tk) - 1),
        F.slice(tk, 2, F.size(tk) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )


def bigram_model_counts(spark, sf_dir, derive=None):
    """Session-memoized corpus bigram counts (w1, w2, n_big).

    ``derive``: optional thunk returning an equivalent relation — used
    by callers that already materialize doc-grain bigram counts, so a
    cold cache costs them a rollup of that relation instead of a second
    corpus pass. Both derivations aggregate the same multiset of corpus
    bigrams, so the table is identical whichever consumer builds it
    first (guide §2.4 share-one-pass; VERDICT r15 item 4)."""
    key = (session_token(spark), sf_dir)
    cached = _BIGRAM_BC_CACHE.get(key)
    if cached is None:
        if derive is not None:
            bc = derive()
        else:
            d = spread(load_table(spark, sf_dir, "documents"), spark)
            bc = (
                d.select(F.explode(bigram_pairs(F.split("text", " "))).alias("bg"))
                .select("bg.w1", "bg.w2")
                .groupBy("w1", "w2")
                .agg(F.count(F.lit(1)).alias("n_big"))
            )
        cached = bc.localCheckpoint(eager=False)
        _BIGRAM_BC_CACHE[key] = cached
    return cached

# Marker words for the heuristic language-ID scorer. The fixture corpus
# is synthetic (31-word shared vocabulary), so markers are drawn from it;
# with a real multilingual corpus these would be per-language stopword
# n-gram profiles — the operator shape (score per language, argmax) is
# identical.
_LANG_MARKERS = {
    "en": ("table", "row", "value"),
    "de": ("data", "query", "join"),
    "es": ("scan", "hash", "agg"),
    "fr": ("line", "order", "part"),
    "zh": ("spark", "batch", "window"),
}

_STOPWORDS = ("a", "the", "of", "data", "value")


@register(
    "q_text_tokens",
    category="llm-text",
    oracle="""
    SELECT tok, COUNT(*) AS n
    FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents)
    WHERE tok <> ''
    GROUP BY tok
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequencies: explode(split) → count. The classic
    word-count; at scale the explode is map-side and the aggregation
    keys on the (bounded) vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_text_langstats",
    category="llm-text",
    oracle="""
    SELECT
      lang,
      COUNT(*)                                             AS n_docs,
      ROUND(AVG(n_chars), 2)                               AS avg_chars,
      ROUND(AVG(LEN(STRING_SPLIT(text, ' '))), 2)          AS avg_tokens,
      ROUND(SUM(n_chars)::DOUBLE / SUM(LEN(STRING_SPLIT(text, ' '))), 2) AS chars_per_token
    FROM documents
    GROUP BY lang
    """,
)
def q_text_langstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats: doc count, avg chars, avg tokens,
    chars-per-token ratio."""
    d = load_table(spark, sf_dir, "documents")
    ntok = F.size(F.split("text", " "))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.round(F.avg(ntok.cast("double")), 2).alias("avg_tokens"),
        F.round(F.sum("n_chars").cast("double") / F.sum(ntok.cast("long")), 2).alias(
            "chars_per_token"
        ),
    )


@register(
    "q_text_quality",
    category="llm-text",
    oracle=f"""
    WITH scored AS (
      SELECT
        doc_id,
        LEN(STRING_SPLIT(text, ' '))                       AS n_tokens,
        LEN(list_distinct(STRING_SPLIT(text, ' ')))        AS n_distinct,
        LEN(regexp_extract_all(text, '[aeiou]'))           AS n_vowels,
        LEN(list_filter(STRING_SPLIT(text, ' '),
                        t -> list_contains({list(_STOPWORDS)!r}, t))) AS n_stop,
        n_chars
      FROM documents
    )
    SELECT
      doc_id,
      CAST(n_tokens AS INT)                                 AS n_tokens,
      ROUND(n_distinct::DOUBLE / n_tokens, 4)               AS distinct_ratio,
      ROUND(n_vowels::DOUBLE / n_chars, 4)                  AS vowel_ratio,
      ROUND(n_stop::DOUBLE / n_tokens, 4)                   AS stopword_ratio,
      ROUND(n_chars::DOUBLE / n_tokens, 4)                  AS avg_token_len,
      (n_tokens >= 20 AND n_distinct::DOUBLE / n_tokens > 0.2) AS passes_quality
    FROM scored
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length, lexical diversity, vowel ratio,
    stopword ratio, and a composite pass/fail gate — the standard
    pre-training filter stack (C4/Gopher-style heuristics) as one
    scan-shaped projection."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_vowels = F.size(F.regexp_extract_all("text", F.lit("[aeiou]"), 0))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    distinct_ratio = F.round(n_distinct.cast("double") / n_tokens, 4)
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        distinct_ratio.alias("distinct_ratio"),
        F.round(n_vowels.cast("double") / F.col("n_chars"), 4).alias("vowel_ratio"),
        F.round(n_stop.cast("double") / n_tokens, 4).alias("stopword_ratio"),
        F.round(F.col("n_chars").cast("double") / n_tokens, 4).alias("avg_token_len"),
        ((n_tokens >= 20) & (n_distinct.cast("double") / n_tokens > 0.2)).alias("passes_quality"),
    )


def _langid_score_sql() -> str:
    cases = []
    for lang, markers in _LANG_MARKERS.items():
        score = " + ".join(
            f"LEN(list_filter(STRING_SPLIT(text, ' '), t -> t = '{m}'))" for m in markers
        )
        cases.append(f"({score}) AS score_{lang}")
    return ", ".join(cases)


def _langid_best():
    """(score, lang) of the winning language as ONE struct expression.

    Round 15 (guide §1.2 per-task work): the old greatest() + when-
    chain form referenced every per-language score repeatedly (`top`
    inside each when, each score in its own when), and interpreted
    HOFs have no common-subexpression elimination — profiled ~6
    evaluations of all 15 marker filter-scans per row. This fold
    builds the 5 (score, lang) structs ONCE (array constructor —
    each score evaluated exactly once) and keeps the first strict
    maximum, which IS the old tie order (en > de > es > fr > zh:
    `when` chains picked the first language equal to the max; a
    strictly-greater fold keeps the earliest max in array order).
    """
    toks = F.split("text", " ")

    def count_marker(m: str):
        # NB: a plain `lambda t, m=m:` would be called by the HOF engine
        # as (element, index) — two-arg lambdas get the array index.
        return F.size(F.filter(toks, lambda t: t == F.lit(m)))

    entries = F.array(
        *[
            F.struct(
                sum((count_marker(m) for m in markers), F.lit(0)).alias("s"),
                F.lit(lang).alias("l"),
            )
            for lang, markers in _LANG_MARKERS.items()
        ]
    )
    return F.aggregate(
        entries,
        F.struct(F.lit(-1).alias("s"), F.lit("").alias("l")),
        lambda acc, x: F.when(x["s"] > acc["s"], x).otherwise(acc),
    )



@register(
    "q_text_langid",
    category="llm-text",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, {_langid_score_sql()}
      FROM documents
    )
    SELECT
      doc_id,
      lang AS labeled_lang,
      CASE GREATEST(score_en, score_de, score_es, score_fr, score_zh)
        WHEN score_en THEN 'en'
        WHEN score_de THEN 'de'
        WHEN score_es THEN 'es'
        WHEN score_fr THEN 'fr'
        ELSE 'zh'
      END AS guessed_lang,
      CAST(GREATEST(score_en, score_de, score_es, score_fr, score_zh) AS INT) AS top_score
    FROM scored
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID: per-language marker-token score, argmax
    with a deterministic tie order (en > de > es > fr > zh). On a real
    corpus the markers become char-n-gram profiles; the operator shape
    (k scores per doc → argmax) is the scalable part — one scan, no
    shuffle. Scoring is the single-evaluation fold of _langid_best
    (round 15); spread() parallelizes the per-row CPU on under-split
    fixture scans (no-op at production split counts)."""
    d = spread(load_table(spark, sf_dir, "documents"), spark)
    # Round 16 (ADVICE r15): extracting best["l"] and best["s"] in one
    # projection re-evaluated the whole fold (all 15 marker scans)
    # twice per row — interpreted HOFs have no CSE and CollapseProject
    # inlines any intermediate projection. inline(array(struct)) routes
    # the fold through a Generate node, which evaluates its generator
    # exactly once and is 1:1 on a 1-element array.
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.inline(F.array(_langid_best())),
    ).select(
        "doc_id",
        "labeled_lang",
        F.col("l").alias("guessed_lang"),
        F.col("s").cast("int").alias("top_score"),
    )


@register(
    "q_token_count",
    category="llm-text",
    oracle="""
    SELECT
      doc_id,
      CAST(LEN(STRING_SPLIT(text, ' ')) AS INT)                       AS ws_tokens,
      CAST(LEN(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS bpe_ish_tokens,
      CAST(CEIL(n_chars / 4.0) AS BIGINT)                             AS est_tokens
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, a BPE-ish regex
    segmentation (letter runs / digit runs / other), and the chars/4
    estimator — the cost accounting every training pipeline runs."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)).alias(
            "bpe_ish_tokens"
        ),
        F.ceil(F.col("n_chars") / 4.0).alias("est_tokens"),
    )


@register(
    "q_text_fingerprint",
    category="llm-text",
    oracle="""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
    )
    SELECT
      doc_id,
      md5(array_to_string(t, ' ')) AS full_fp,
      list_min(list_transform(
        generate_series(1, GREATEST(LEN(t) - 4, 1)),
        i -> md5(array_to_string(t[i:i+4], ' '))
      )) AS min_shingle_fp
    FROM toks
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole-doc md5 plus a winnowing-style
    minimum over rolling 5-token-window md5s (the rolling-hash
    fingerprint family). Identical prose ⇒ identical min-fingerprint,
    and near-identical prose shares it with high probability — a
    cheap SQL-only near-dup prefilter."""
    # spread(): one md5 per 5-token window is CPU-bound per row; the
    # under-split fixture scan serialized it on 1-2 cores (guide §2.5).
    # No-op at production split counts.
    d = spread(load_table(spark, sf_dir, "documents"), spark)
    toks = F.split("text", " ")
    # windows i = 1 .. max(len-4, 1): md5 of the 5-token window starting at i
    win_fps = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 4, F.lit(1))),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, 5))),
    )
    return d.select(
        "doc_id",
        F.md5(F.concat_ws(" ", toks)).alias("full_fp"),
        F.array_min(win_fps).alias("min_shingle_fp"),
    )


@register(
    "q_text_vocab",
    category="llm-text",
    oracle="""
    SELECT tok,
           COUNT(*)                AS n_occurrences,
           COUNT(DISTINCT doc_id)  AS doc_freq
    FROM (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
    )
    WHERE tok <> ''
    GROUP BY tok
    ORDER BY n_occurrences DESC, tok
    LIMIT 20
    """,
)
def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary head: top-20 tokens by total occurrences with their
    document frequency — the heavy-hitter profile a tokenizer/BPE
    training pass starts from.

    Scale: explode → two-phase aggregate on the token key → global
    top-20 via sort+limit, which Spark plans as TakeOrderedAndProject
    (per-partition top-N, no full sort). Token-frequency skew ("the")
    is exactly what map-side partial aggregation absorbs. Deterministic
    tie-break on token keeps the LIMIT hash-stable across engines."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    return (
        toks.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("n_occurrences").desc(), "tok")
        .limit(20)
    )


#: Relational Count-Min sketch shape: depth x width counter grid.
_CMS_DEPTH = 5
_CMS_WIDTH = 8192


@register(
    "q_token_freq_cms",
    category="llm-text",
    oracle="""
    WITH t AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
    ),
    counts AS (
      SELECT tok, COUNT(*) AS exact_n FROM t WHERE tok <> '' GROUP BY tok
    )
    SELECT tok, exact_n, TRUE AS within_band
    FROM counts
    ORDER BY exact_n DESC, tok
    LIMIT 20
    """,
)
def q_token_freq_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter token counts cross-checked against a Count-Min
    sketch, q_agg_approx's accuracy-band pattern: emit the exact top-20
    (hash-stable on both engines) plus a flag asserting the CMS
    estimate respects its guarantee, exact <= est <= exact + 2N/width.
    The oracle pins the flag to TRUE — the sketch hashes are seeded
    xxhash64 draws, so the estimate is deterministic per fixture and a
    guarantee violation (or a broken grid merge) flips the hash.

    The sketch here is RELATIONAL: the counter grid is a (depth, col)
    → count aggregate — bounded at depth x width rows regardless of
    corpus size — and probing is an equi-join of the top-20 tokens
    against that grid with min-over-depth. Everything stays in ONE lazy
    plan: no driver-side sketch object, no eager jobs at build time, no
    private JVM API, no session conf mutation (a round-3 version did
    all three through spark._jvm CountMinSketch probes).

    Scale: the grid build is a mergeable two-phase aggregate over
    map-side-computed (depth, col) keys — partials merge like any CMS;
    the exact top-20 side is the only token-key shuffle (two-phase agg
    + TakeOrderedAndProject). The probe join broadcasts 20x depth rows.
    At 100 TB the grid relation IS the materialized sketch artifact —
    queryable by any engine, no binary blob format to decode."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    depths = F.array(*[F.lit(d) for d in range(_CMS_DEPTH)])
    col = F.pmod(F.xxhash64("d", "tok"), F.lit(_CMS_WIDTH)).alias("c")
    grid = (
        toks.select(F.explode(depths).alias("d"), "tok")
        .select("d", col)
        .groupBy("d", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # depth x width grain (the materialized sketch artifact); 2
    # consumers (probe join + the total below) — persisted so the
    # token stream is scanned once for the sketch, once for the
    # exact side (was 3 scans: grid, total, top — round 9)
    grid = maybe_persist(grid, sf_dir)
    # every token contributes exactly one grid count per depth row,
    # so the corpus total is sum(cnt) / depth — no third scan
    n_total = grid.agg(
        (F.sum("cnt") / _CMS_DEPTH).cast("long").alias("n_total")
    )
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "tok")
        .limit(20)
    )
    probes = top.select("tok", "exact_n", F.explode(depths).alias("d")).select(
        "tok", "exact_n", "d", col
    )
    est = (
        probes.join(grid, ["d", "c"], "left")
        .groupBy("tok", "exact_n")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est_n"))
    )
    slack = (F.lit(2.0) * F.col("n_total") / _CMS_WIDTH).cast("long") + 1
    return est.crossJoin(F.broadcast(n_total)).select(
        "tok",
        "exact_n",
        (
            (F.col("est_n") >= F.col("exact_n"))
            & (F.col("est_n") <= F.col("exact_n") + slack)
        ).alias("within_band"),
    )


@register(
    "q_text_tfidf",
    category="llm-text",
    oracle="""
    WITH t AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM t WHERE tok <> '' GROUP BY doc_id, tok
    ),
    df AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS df FROM t WHERE tok <> '' GROUP BY tok
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.tok, tf.tf,
           ROUND(tf.tf * LN(n.n_docs::DOUBLE / df.df), 2) AS tfidf
    FROM tf JOIN df USING (tok) CROSS JOIN n
    WHERE tf.tf >= 2
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (doc, token) for tokens appearing >= 2x in a doc —
    the keyword-extraction / quality-feature score a filtering pipeline
    attaches before sampling.

    Scale: two two-phase aggregates (term freq keyed by (doc, tok),
    doc freq keyed by tok) and one equi-join on the token key; the
    1-row corpus count joins as a literal broadcast. Token-key skew
    ("the") is absorbed by map-side partial aggregation before either
    shuffle; the tf >= 2 filter prunes the long unigram tail before
    the join. ROUND(x, 2) keeps the double hash-stable cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok")).filter(
        F.col("tok") != ""
    )
    # The (doc, tok) inverted-index relation: tf is a filter of it and
    # df its per-token row count (count(*) over distinct (doc, tok)
    # pairs IS countDistinct(doc_id) per token) — so df shuffles the
    # already-aggregated pairs, never the raw token stream (round 9).
    # DELIBERATELY NOT persisted: unlike the round's bounded-grain
    # persists (day/user/label/month grains), the inverted index is
    # corpus-scale — pinning it trades one columnar re-scan for a
    # corpus-sized cache entry, the exact fact-pollution anti-pattern
    # plans/cache.py documents. Two pruned scans is the right cost.
    pairs = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    tf = pairs.filter(F.col("tf") >= 2)
    df = pairs.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.select(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 2
            ).alias("tfidf"),
        )
    )


@register(
    "q_text_repetition",
    category="llm-text",
    oracle="""
    WITH t AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
    ),
    tok_stats AS (
      SELECT doc_id,
             SUM(cnt)  AS n_toks,
             COUNT(*)  AS n_distinct,
             MAX(cnt)  AS top_cnt
      FROM (SELECT doc_id, tok, COUNT(*) AS cnt FROM t GROUP BY doc_id, tok)
      GROUP BY doc_id
    ),
    g AS (
      SELECT doc_id, list_transform(
               range(1, GREATEST(LEN(STRING_SPLIT(text, ' ')) - 1, 1) + 1),
               i -> array_to_string(STRING_SPLIT(text, ' ')[i:i+1], ' ')
             ) AS grams
      FROM documents
    ),
    gram_stats AS (
      SELECT doc_id, LEN(grams) AS n_grams,
             LEN(list_distinct(grams)) AS n_distinct_grams
      FROM g
    )
    SELECT s.doc_id,
           ROUND(1.0 - s.n_distinct::DOUBLE / s.n_toks, 4)            AS dup_token_frac,
           ROUND(s.top_cnt::DOUBLE / s.n_toks, 4)                      AS top_token_frac,
           ROUND(1.0 - gs.n_distinct_grams::DOUBLE / gs.n_grams, 4)    AS dup_2gram_frac
    FROM tok_stats s JOIN gram_stats gs ON s.doc_id = gs.doc_id
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher/C4 filter family):
    duplicate-token fraction, top-token mass, duplicate-2-gram fraction
    per document. Documents dominated by repeated tokens or phrases are
    the classic low-quality slice a pretraining filter drops.

    Scale: token stats are a two-level aggregate keyed by (doc, tok)
    then doc — both uniform keys, map-side partials absorb the skew;
    the 2-gram side is map-only HOFs (build grams, count distinct in
    the array) with no explode at all. One join on doc_id at the end.
    Fractions are int/int ratios rounded at 4dp on both engines."""
    d = spread(load_table(spark, sf_dir, "documents"), spark)
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    per_tok = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    tok_stats = per_tok.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_toks"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("cnt").alias("top_cnt"),
    )
    tk = F.split("text", " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(tk) - 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(tk, i, 2)),
    )
    # n_grams == len(sequence(1, greatest(|tk|-1, 1))) by construction
    # (transform preserves length) — computing it as arithmetic instead
    # of size(grams) avoids building the 2-gram string array a second
    # time in this projection (HOFs are interpreted; no codegen CSE).
    # NULL contract (ADVICE r15 item 4): on a NULL text the old
    # size(grams) form yielded NULL where greatest(.., 1) yields 1 —
    # equivalence relies on documents.text being non-null — FIXTURES.md
    # records that no fixture table contains NULLs; a nullable corpus
    # must add an explicit isnotnull guard before this operator.
    gram_stats = d.select(
        "doc_id",
        F.greatest(F.size(tk) - 1, F.lit(1)).alias("n_grams"),
        F.size(F.array_distinct(grams)).alias("n_distinct_grams"),
    )
    return (
        tok_stats.join(gram_stats, "doc_id")
        .select(
            "doc_id",
            F.round(
                1.0 - F.col("n_distinct").cast("double") / F.col("n_toks"), 4
            ).alias("dup_token_frac"),
            F.round(F.col("top_cnt").cast("double") / F.col("n_toks"), 4).alias(
                "top_token_frac"
            ),
            F.round(
                1.0 - F.col("n_distinct_grams").cast("double") / F.col("n_grams"), 4
            ).alias("dup_2gram_frac"),
        )
    )


@register(
    "q_text_unigram_lm",
    category="llm-text",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
      FROM documents
    ),
    doc_tok AS (
      SELECT doc_id, tok, COUNT(*) AS k
      FROM toks WHERE tok <> '' GROUP BY doc_id, tok
    ),
    vocab AS (
      SELECT tok, SUM(k) AS n, SUM(SUM(k)) OVER () AS total
      FROM doc_tok GROUP BY tok
    )
    SELECT d.doc_id,
           CAST(SUM(d.k) AS BIGINT) AS n_tokens,
           ROUND(SUM(d.k * -LN(v.n / v.total)) / SUM(d.k), 4) AS surprisal
    FROM doc_tok d JOIN vocab v ON d.tok = v.tok
    GROUP BY d.doc_id
    """,
)
def q_text_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: each document's mean token
    surprisal -ln p(tok) under the corpus's own unigram distribution —
    the cheapest perplexity proxy a quality-filtering pipeline runs
    before any neural scorer. Low = stereotyped, high = rare-token.

    Scale: documents explode to per-doc token COUNTS (map-side combine
    collapses repeats before the shuffle), the vocabulary aggregate is
    bounded by |vocab|, and the probability join is a broadcast of that
    bounded vocab — the per-doc scoring aggregate keys on doc_id, which
    is uniform. Nothing is ever keyed on raw token occurrences, so the
    Zipf skew of natural text never reaches a shuffle key."""
    d = load_table(spark, sf_dir, "documents")
    doc_tok = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    vocab = doc_tok.groupBy("tok").agg(F.sum("k").alias("n"))
    vocab = vocab.select(
        "tok", "n", F.sum("n").over(Window.partitionBy()).alias("total")
    )
    neglogp = -F.log(F.col("n") / F.col("total"))
    return (
        doc_tok.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_tokens"),
            F.round(F.sum(F.col("k") * neglogp) / F.sum("k"), 4).alias("surprisal"),
        )
    )


# fixed, hand-set weights for the logistic quality model — a stand-in
# for a fitted fasttext/linear classifier's coefficients
_QW = {
    "bias": -2.0,
    "distinct_ratio": 3.0,
    "stopword_ratio": 4.0,
    "log_tokens": 0.5,
}


@register(
    "q_quality_logistic",
    category="llm-text",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
             LEN(list_distinct(STRING_SPLIT(text, ' ')))::DOUBLE
               / LEN(STRING_SPLIT(text, ' ')) AS distinct_ratio,
             LEN(list_filter(STRING_SPLIT(text, ' '),
                             t -> list_contains({list(_STOPWORDS)!r}, t)))::DOUBLE
               / LEN(STRING_SPLIT(text, ' ')) AS stopword_ratio
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
             {_QW["bias"]} + {_QW["distinct_ratio"]} * distinct_ratio
               + {_QW["stopword_ratio"]} * stopword_ratio
               + {_QW["log_tokens"]} * LN(n_tokens) AS logit
      FROM feats
    )
    SELECT doc_id,
           ROUND(1.0 / (1.0 + EXP(-logit)), 4) AS quality_score,
           1.0 / (1.0 + EXP(-logit)) > 0.5 AS keep
    FROM scored
    """,
)
def q_quality_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: a fixed-weight logistic scorer
    over the heuristic features of q_text_quality — the shape of every
    'quality classifier' stage (fasttext, linear probe) once its
    weights are frozen for a production sweep. Emits the score and the
    keep/drop decision at the 0.5 operating point.

    Scale: a pure map-side projection — per-document features, dot
    product, sigmoid; no shuffle, no join, no state. The expensive
    part of a real deployment (scoring milliseconds per doc) is
    embarrassingly parallel, which is exactly what this plan is."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    stopword_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("double") / n_tokens
    )
    logit = (
        F.lit(_QW["bias"])
        + F.lit(_QW["distinct_ratio"]) * distinct_ratio
        + F.lit(_QW["stopword_ratio"]) * stopword_ratio
        + F.lit(_QW["log_tokens"]) * F.log(n_tokens.cast("double"))
    )
    score = 1.0 / (1.0 + F.exp(-logit))
    return d.select(
        "doc_id",
        F.round(score, 4).alias("quality_score"),
        (score > 0.5).alias("keep"),
    )


@register(
    "q_text_entropy",
    category="llm-text",
    oracle="""
    WITH pref AS (
      SELECT doc_id, string_split(substr(text, 1, 200), '') AS cs
      FROM documents
    ),
    counted AS (
      SELECT doc_id, cs,
             list_transform(list_distinct(cs),
                            c -> len(list_filter(cs, x -> x = c))) AS ks
      FROM pref
    )
    SELECT doc_id,
           len(cs) AS n_chars_scored,
           ROUND(-list_sum(list_transform(ks,
                 k -> (k::DOUBLE / len(cs)) * log2(k::DOUBLE / len(cs)))), 4)
             AS char_entropy
    FROM counted
    """,
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy of each document's first 200
    chars — the cheap gibberish/encoding-noise detector (natural text
    sits ~4 bits/char; base64 blobs and repeated-char junk land far
    from it) that runs before any model-based quality scorer.

    Scale: shuffle-free on real data — prefix-bounded pure map-side
    HOFs (distinct chars x prefix length <= ~100 x 200 ops/doc,
    constant per doc regardless of corpus size). spread() inserts one
    round-robin repartition ONLY when the scan arrives as fewer splits
    than cores (the tiny-fixture case, 3.5 s -> sub-second at sf0.1);
    at production split counts it is a no-op and the plan is pure map.
    Both engines split the same prefix into chars identically and
    round the same p*log2(p) fold at 4dp."""
    d = spread(load_table(spark, sf_dir, "documents"), spark)
    cs = F.split(F.substring("text", 1, 200), "")
    n = F.size(cs)
    ks = F.transform(
        F.array_distinct(cs),
        lambda c: F.size(F.filter(cs, lambda x: x == c)),
    )
    p = lambda k: k.cast("double") / n  # noqa: E731
    entropy = -F.aggregate(
        ks,
        F.lit(0.0),
        lambda acc, k: acc + p(k) * F.log2(p(k)),
    )
    return d.select(
        "doc_id",
        n.alias("n_chars_scored"),
        F.round(entropy, 4).alias("char_entropy"),
    )


@register(
    "q_text_pmi",
    category="llm-text",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bigrams AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS s(i)
    ),
    bc AS (
      SELECT w1, w2, COUNT(*) AS n_big FROM bigrams GROUP BY w1, w2
    ),
    uni AS (
      SELECT tok, SUM(k) AS n_uni FROM (
        SELECT doc_id, u.tok, COUNT(*) AS k
        FROM toks, UNNEST(t) AS u(tok) GROUP BY doc_id, u.tok
      ) GROUP BY tok
    ),
    tot AS (
      SELECT (SELECT SUM(n_big) FROM bc) AS t_big,
             (SELECT SUM(n_uni) FROM uni) AS t_uni
    )
    SELECT b.w1, b.w2, b.n_big,
           ROUND(LOG2((b.n_big::DOUBLE / t.t_big) /
                 ((u1.n_uni::DOUBLE / t.t_uni) *
                  (u2.n_uni::DOUBLE / t.t_uni))), 4) AS pmi
    FROM bc b
    JOIN uni u1 ON u1.tok = b.w1
    JOIN uni u2 ON u2.tok = b.w2
    CROSS JOIN tot t
    WHERE b.n_big >= 5
    """,
)
def q_text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram collocation mining via pointwise mutual information:
    PMI(w1,w2) = log2(p(w1,w2) / (p(w1) p(w2))) over the corpus, kept
    where the bigram occurs >= 5 times — the classic phrase-detection
    pass (word2vec's phrase pre-join, tokenizer merge candidates).

    Scale: bigram and unigram counts are two-phase hash aggregates
    whose outputs are vocabulary-bounded (|V| and |V|^2 ceilings, tiny
    next to the token stream that feeds them); the probability
    denominators are 1-row aggregates broadcast into the final
    projection, and the unigram re-joins onto the bigram table are
    broadcast joins against the |V|-row side. Nothing downstream of
    the token stream scales with corpus size. log2 fold rounded at 4dp
    on both engines."""
    d = load_table(spark, sf_dir, "documents")
    tk = F.split("text", " ")
    bigrams = d.select(F.explode(bigram_pairs(tk)).alias("bg")).select("bg.w1", "bg.w2")
    bc = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_big"))
    toks = d.select("doc_id", F.explode(tk).alias("tok"))
    uni = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("k"))
        .groupBy("tok")
        .agg(F.sum("k").alias("n_uni"))
    )
    # bc (<=|V|^2 rows) and uni (<=|V| rows) each feed multiple branches
    # below (totals + re-joins); localCheckpoint the vocabulary-bounded
    # relations once so the token-stream aggregates run exactly once —
    # the same tiny-relation barrier discipline as the dedup/graph
    # edges — and memoize them per (session, sf): the bigram/unigram
    # count tables are the reusable LM artifact every PMI consumer
    # shares (the copurchase_pairs discipline).
    key = (session_token(spark), sf_dir)
    cached = _PMI_CACHE.get(key)
    if cached is None:
        cached = (bc.localCheckpoint(eager=True), uni.localCheckpoint(eager=True))
        _PMI_CACHE[key] = cached
    bc, uni = cached
    t_big = bc.agg(F.sum("n_big").alias("t_big"))
    t_uni = uni.agg(F.sum("n_uni").alias("t_uni"))
    u1 = uni.select(F.col("tok").alias("w1"), F.col("n_uni").alias("n1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("n_uni").alias("n2"))
    return (
        bc.filter(F.col("n_big") >= 5)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .join(F.broadcast(t_big))
        .join(F.broadcast(t_uni))
        .select(
            "w1",
            "w2",
            "n_big",
            F.round(
                F.log2(
                    (F.col("n_big").cast("double") / F.col("t_big"))
                    / (
                        (F.col("n1").cast("double") / F.col("t_uni"))
                        * (F.col("n2").cast("double") / F.col("t_uni"))
                    )
                ),
                4,
            ).alias("pmi"),
        )
    )


@register(
    "q_quality_tiers",
    category="llm-text",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
             LEN(list_distinct(STRING_SPLIT(text, ' ')))::DOUBLE
               / LEN(STRING_SPLIT(text, ' ')) AS distinct_ratio,
             LEN(list_filter(STRING_SPLIT(text, ' '),
                             t -> list_contains({list(_STOPWORDS)!r}, t)))::DOUBLE
               / LEN(STRING_SPLIT(text, ' ')) AS stopword_ratio
      FROM documents
    ),
    scored AS (
      SELECT doc_id, n_tokens,
             1.0 / (1.0 + EXP(-({_QW["bias"]}
               + {_QW["distinct_ratio"]} * distinct_ratio
               + {_QW["stopword_ratio"]} * stopword_ratio
               + {_QW["log_tokens"]} * LN(n_tokens)))) AS score
      FROM scored_src
    ),
    tiered AS (
      SELECT CASE WHEN score >= 0.89 THEN 'high'
                  WHEN score >= 0.85 THEN 'mid'
                  ELSE 'low' END AS tier,
             n_tokens
      FROM scored
    ),
    agg AS (
      SELECT tier, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
      FROM tiered GROUP BY tier
    )
    SELECT tier, n_docs, total_tokens,
           ROUND(total_tokens * 1.0 /
                 (SELECT SUM(total_tokens) FROM agg), 4) AS token_share
    FROM agg
    """.replace("scored_src", "feats"),
)
def q_quality_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-tier token budgeting: bucket the corpus by the
    q_quality_logistic score into high/mid/low tiers and report each
    tier's document count, token count, and share of total tokens —
    the table a curation run reads to decide sampling temperatures
    per tier (quality-weighted mixtures).

    Scale: map-side scoring + a 3-row hash aggregate; the share
    denominator is a 1-row aggregate broadcast back. Nothing here
    scales beyond the feature projection, which is the same
    embarrassingly-parallel pass q_quality_logistic already runs."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    stopword_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS))).cast("double")
        / n_tokens
    )
    logit = (
        F.lit(_QW["bias"])
        + F.lit(_QW["distinct_ratio"]) * distinct_ratio
        + F.lit(_QW["stopword_ratio"]) * stopword_ratio
        + F.lit(_QW["log_tokens"]) * F.log(n_tokens.cast("double"))
    )
    score = 1.0 / (1.0 + F.exp(-logit))
    tiered = d.select(
        F.when(score >= 0.89, "high")
        .when(score >= 0.85, "mid")
        .otherwise("low")
        .alias("tier"),
        n_tokens.alias("n_tokens"),
    )
    agg = tiered.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    total = agg.agg(F.sum("total_tokens").alias("grand_total"))
    return agg.join(F.broadcast(total)).select(
        "tier",
        "n_docs",
        "total_tokens",
        F.round(F.col("total_tokens") * 1.0 / F.col("grand_total"), 4).alias(
            "token_share"
        ),
    )


@register(
    "q_regression_zipf",
    category="llm-text",
    oracle="""
    WITH uni AS (
      SELECT tok, SUM(k) AS n FROM (
        SELECT doc_id, u.tok, COUNT(*) AS k
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             UNNEST(t) AS u(tok)
        GROUP BY doc_id, u.tok
      ) GROUP BY tok
    ),
    ranked AS (
      SELECT LN(ROW_NUMBER() OVER (ORDER BY n DESC, tok)) AS lx,
             LN(n) AS ly
      FROM uni
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(REGR_SLOPE(ly, lx), 4) AS zipf_slope,
           ROUND(REGR_INTERCEPT(ly, lx), 4) AS zipf_intercept,
           ROUND(CORR(ly, lx), 4) AS fit_corr
    FROM ranked
    """,
)
def q_regression_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: least-squares slope
    of log(frequency) against log(rank) plus the fit correlation —
    natural corpora sit near slope -1; a slope far from it flags
    synthetic, templated, or truncated-vocabulary data. Exercises the
    regr_* regression aggregates end to end.

    Scale: unigram counts are the usual vocabulary-bounded two-phase
    aggregate; the rank window and the regression both run over |V|
    rows, not the token stream. regr_slope/intercept/corr are
    single-pass mergeable moment aggregates — the same machinery as
    q_agg_corr — so the fit costs one pass over the vocabulary however
    large the corpus. Deterministic (n DESC, tok) ranking; 4dp rounding
    on both engines."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    uni = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("k"))
        .groupBy("tok")
        .agg(F.sum("k").alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("tok"))
    ranked = uni.select(
        F.log(F.row_number().over(w).cast("double")).alias("lx"),
        F.log(F.col("n").cast("double")).alias("ly"),
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.round(F.regr_slope("ly", "lx"), 4).alias("zipf_slope"),
        F.round(F.regr_intercept("ly", "lx"), 4).alias("zipf_intercept"),
        F.round(F.corr("ly", "lx"), 4).alias("fit_corr"),
    )


@register(
    "q_text_bigram_lm",
    category="llm-text",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    doc_big AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, COUNT(*) AS k
      FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS s(i)
      GROUP BY doc_id, t[i], t[i + 1]
    ),
    bc AS (SELECT w1, w2, SUM(k) AS n_big FROM doc_big GROUP BY w1, w2),
    uc AS (SELECT w1, SUM(n_big) AS n_w1 FROM bc GROUP BY w1),
    vsize AS (SELECT COUNT(DISTINCT w2) AS v FROM bc),
    p AS (
      SELECT bc.w1, bc.w2,
             (bc.n_big + 1.0) / (uc.n_w1 + vs.v) AS cond_p
      FROM bc JOIN uc ON uc.w1 = bc.w1 CROSS JOIN vsize vs
    )
    SELECT d.doc_id,
           CAST(SUM(d.k) AS BIGINT) AS n_bigrams,
           ROUND(SUM(d.k * -LN(p.cond_p)) / SUM(d.k), 4) AS bigram_surprisal
    FROM doc_big d JOIN p ON p.w1 = d.w1 AND p.w2 = d.w2
    GROUP BY d.doc_id
    """,
)
def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring: each document's mean conditional
    surprisal -ln p(w2|w1) under the corpus's own add-1-smoothed
    bigram model — one order above q_text_unigram_lm, which is blind
    to word ORDER (the fixture's scrambled near-dups score identically
    there; here scrambling shows up as improbable transitions). The
    second rung of the perplexity-proxy ladder quality pipelines climb
    before paying for a neural scorer.

    Scale: documents reduce map-side to per-doc BIGRAM counts (one
    explode, combiner collapses repeats); the model tables are
    |V|^2-bounded aggregates of those counts; conditional
    probabilities join back as broadcasts. Nothing after the first
    aggregate scales with corpus size. Laplace smoothing keeps every
    probability finite and the arithmetic engine-identical (integer
    counts, one division, 4dp round)."""
    # spread(): the bigram struct explode is CPU-bound per row; the
    # under-split fixture scan serialized it on 1-2 cores (guide §2.5).
    # No-op at production split counts.
    d = spread(load_table(spark, sf_dir, "documents"), spark)
    tk = F.split("text", " ")
    bigrams = d.select("doc_id", F.explode(bigram_pairs(tk)).alias("bg")).select(
        "doc_id", "bg.w1", "bg.w2"
    )
    doc_big = bigrams.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("k")
    )
    # |V|^2-bounded model table, feeds 3 branches — session-shared with
    # the other bigram-LM consumers (round 16); a cold cache rolls it up
    # from the doc-grain counts this query needs anyway.
    bc = bigram_model_counts(
        spark,
        sf_dir,
        derive=lambda: doc_big.groupBy("w1", "w2").agg(
            F.sum("k").alias("n_big")
        ),
    )
    uc = bc.groupBy("w1").agg(F.sum("n_big").alias("n_w1"))
    vsize = bc.agg(F.countDistinct("w2").alias("v"))
    p = (
        bc.join(F.broadcast(uc), "w1")
        .join(F.broadcast(vsize))
        .select(
            "w1",
            "w2",
            ((F.col("n_big") + 1.0) / (F.col("n_w1") + F.col("v"))).alias(
                "cond_p"
            ),
        )
    )
    return (
        doc_big.join(F.broadcast(p), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_bigrams"),
            F.round(
                F.sum(F.col("k") * -F.log("cond_p")) / F.sum("k"), 4
            ).alias("bigram_surprisal"),
        )
    )


_BPE_TOPN = 20  # merge candidates reported (one trainer iteration)
_EOW = "</w>"  # classic BPE end-of-word marker


@register(
    "q_bpe_pair_stats",
    category="llm-text",
    oracle=f"""
    WITH w AS (
      SELECT tok AS w, COUNT(*) AS n
      FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents)
      WHERE tok <> ''
      GROUP BY tok
    ),
    pairs AS (
      SELECT substr(w, i, 1) AS lhs,
             CASE WHEN i < LEN(w) THEN substr(w, i + 1, 1) ELSE '{_EOW}' END AS rhs,
             n
      FROM w, UNNEST(generate_series(1, LEN(w))) AS t(i)
    )
    SELECT lhs, rhs, CAST(SUM(n) AS BIGINT) AS pair_count
    FROM pairs
    GROUP BY lhs, rhs
    ORDER BY pair_count DESC, lhs, rhs
    LIMIT {_BPE_TOPN}
    """,
)
def q_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One iteration of a BPE tokenizer trainer: frequency-weighted
    adjacent-symbol pair counts over the corpus word vocabulary (Sennrich
    et al. 2016) — the top pair is the first merge a trainer would
    learn. Words carry the classic `</w>` end-of-word marker, so
    (last-char, </w>) pairs compete with intra-word pairs exactly as in
    the reference algorithm. Top-{_BPE_TOPN} is fully deterministic:
    integer counts, ties broken (lhs, rhs) ascending.

    Scale: the word vocabulary aggregate collapses the corpus to
    |vocab| rows BEFORE any per-character work, so the explode is over
    vocab x word-length, not corpus tokens — at 100 TB the token
    stream's heavy hitters (Zipf) cost one row each here. Pair counts
    are a two-phase hash aggregate on a (char, char) key — bounded
    domain, no skew problem — and the top-{_BPE_TOPN} plans as
    TakeOrderedAndProject (bounded, no global sort).

    Reference provenance: C7 summary tables (/root/reference/README.md:
    3-6 — precomputed aggregates consulted instead of raw data; the
    vocab-with-counts relation is that tier for the char-pair pass)."""
    d = load_table(spark, sf_dir, "documents")
    w = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = w.select(
        "n",
        F.explode(F.sequence(F.lit(1), F.length("w"))).alias("i"),
        F.col("w"),
    ).select(
        F.expr("substring(w, i, 1)").alias("lhs"),
        F.when(
            F.col("i") < F.length("w"), F.expr("substring(w, i + 1, 1)")
        )
        .otherwise(F.lit(_EOW))
        .alias("rhs"),
        "n",
    )
    return (
        pairs.groupBy("lhs", "rhs")
        .agg(F.sum("n").cast("long").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "lhs", "rhs")
        .limit(_BPE_TOPN)
    )


q_bpe_pair_stats.__doc__ = q_bpe_pair_stats.__doc__.replace(
    "{_BPE_TOPN}", str(_BPE_TOPN)
)

_COVER_VOCAB_N = 256  # learned vocabulary size for the coverage report


@register(
    "q_vocab_coverage",
    category="llm-text",
    oracle=f"""
    WITH toks AS (
      SELECT source, tok
      FROM (
        SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
      )
      WHERE tok <> ''
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
        ORDER BY n DESC, tok LIMIT {_COVER_VOCAB_N}
      )
    )
    SELECT t.source,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_covered,
           CAST(FLOOR(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END)
                      * 10000.0 / COUNT(*) + 0.5) AS INT) AS coverage_bp,
           CAST(FLOOR(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                      * 10000.0 / COUNT(*) + 0.5) AS INT) AS oov_bp
    FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
    GROUP BY t.source
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage report: learn a top-{_COVER_VOCAB_N} corpus
    vocabulary (count desc, token asc — fully deterministic), then
    measure per-source token coverage and OOV rate against it. The
    gate a tokenizer-sanity check runs before training: a source whose
    OOV rate spikes is mis-encoded, wrongly language-tagged, or
    adversarial.

    Scale: the vocabulary is a two-phase hash aggregate + bounded
    top-{_COVER_VOCAB_N} (TakeOrderedAndProject — no global sort); the
    coverage pass joins the token stream against the {_COVER_VOCAB_N}-row
    vocab BROADCAST, so it's one scan + map-side probe + per-source
    aggregate. Nothing grows with corpus size except the two scans.
    Coverage/OOV are FLOOR(x*10000+0.5) integer basis points —
    integer-count quotients can land on true decimal ties that
    ROUND(double) resolves differently per engine (ADVICE r7).

    Reference provenance: C1 tiered membership (/root/reference/src/
    PicoPlusPsram.cpp:14-29 — small resident summary consulted per
    access; the broadcast vocab is that summary for the token stream)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(_COVER_VOCAB_N)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab"), 1).otherwise(0))
            .cast("long")
            .alias("n_covered"),
            F.floor(
                F.sum(F.when(F.col("in_vocab"), 1).otherwise(0))
                * 10000.0
                / F.count(F.lit(1))
                + 0.5
            )
            .cast("int")
            .alias("coverage_bp"),
            F.floor(
                F.sum(F.when(F.col("in_vocab"), 0).otherwise(1))
                * 10000.0
                / F.count(F.lit(1))
                + 0.5
            )
            .cast("int")
            .alias("oov_bp"),
        )
    )


q_vocab_coverage.__doc__ = q_vocab_coverage.__doc__.replace(
    "{_COVER_VOCAB_N}", str(_COVER_VOCAB_N)
)


_KN_D = 0.75  # absolute-discount constant (standard Kneser-Ney default)
_KN_TOPN = 50  # reported head of the smoothed bigram table


@register(
    "q_text_kn_bigram",
    category="llm-text",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    big AS (
      SELECT t[i] AS w1, t[i + 1] AS w2, COUNT(*) AS c12
      FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS s(i)
      GROUP BY w1, w2
    ),
    uni AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1fwd FROM big GROUP BY w1),
    cont AS (SELECT w2, COUNT(*) AS n1back FROM big GROUP BY w2),
    tot AS (SELECT COUNT(*) AS n_bigram_types FROM big),
    kn AS (
      SELECT b.w1, b.w2, b.c12,
             ROUND(
               (GREATEST(b.c12 - {_KN_D}, 0) / u.c1)
               + ({_KN_D} * u.n1fwd / u.c1) * (ct.n1back * 1.0 / t.n_bigram_types),
               6) AS p_kn
      FROM big b
      JOIN uni u ON u.w1 = b.w1
      JOIN cont ct ON ct.w2 = b.w2
      CROSS JOIN tot t
    )
    SELECT w1, w2, CAST(c12 AS BIGINT) AS c12, p_kn
    FROM kn ORDER BY c12 DESC, w1, w2 LIMIT {_KN_TOPN}
    """,
)
def q_text_kn_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram model estimation (Kneser & Ney
    1995; Chen & Goodman 1999) — the classic n-gram LM smoother, whose
    statistics are NATURALLY relational: c(w1,w2), the left context
    mass c(w1), the forward type count N1+(w1,·), the CONTINUATION
    count N1+(·,w2) ("in how many distinct contexts does w2 complete a
    bigram"), and the bigram-type total. p_kn = max(c12-D,0)/c1 +
    (D·N1+(w1,·)/c1)·(N1+(·,w2)/|bigram types|), D={_KN_D}. Reported:
    the top-{_KN_TOPN} bigrams by count (deterministic tie-break), with
    their smoothed probabilities — the head of the model a perplexity
    scorer would consume.

    Scale: everything is a hash aggregate over bigram keys (uniform
    after the per-doc count collapse); the three model tables join back
    to `big` on its own keys — at 100 TB this is the same
    shuffle-bounded shape as q_text_pmi, and the model tables are
    vocabulary-bounded, orders smaller than the corpus. Top-{_KN_TOPN}
    plans as TakeOrderedAndProject.

    Reference provenance: C7 summary tables (/root/reference/README.md:
    3-6 — small derived tables consulted instead of raw data)."""
    # Round 16: the (w1, w2) count table is the session-shared bigram
    # model artifact (guide §2.4) — built once per (session, sf) by
    # whichever LM consumer runs first; the memoized relation is
    # already checkpointed, so its 4 branches below reuse one
    # materialization exactly as the per-query checkpoint did.
    big = bigram_model_counts(spark, sf_dir).withColumnRenamed(
        "n_big", "c12"
    )
    uni = big.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1fwd")
    )
    cont = big.groupBy("w2").agg(F.count(F.lit(1)).alias("n1back"))
    tot = big.agg(F.count(F.lit(1)).alias("n_bigram_types"))
    p_kn = F.round(
        F.greatest(F.col("c12") - _KN_D, F.lit(0.0)) / F.col("c1")
        + (_KN_D * F.col("n1fwd") / F.col("c1"))
        * (F.col("n1back") / F.col("n_bigram_types")),
        6,
    )
    return (
        big.join(uni, "w1")
        .join(cont, "w2")
        .join(F.broadcast(tot))
        .select("w1", "w2", F.col("c12").cast("long").alias("c12"), p_kn.alias("p_kn"))
        .orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(_KN_TOPN)
    )


q_text_kn_bigram.__doc__ = q_text_kn_bigram.__doc__.replace(
    "{_KN_D}", str(_KN_D)
).replace("{_KN_TOPN}", str(_KN_TOPN))


_GOPHER_MIN_WORDS = 20
_GOPHER_MAX_WORDS = 90
_GOPHER_STOPWORDS = ("the", "a")
_GOPHER_MIN_STOPS = 2


@register(
    "q_quality_gopher",
    category="llm-text",
    oracle=f"""
    WITH d AS (
      SELECT source,
             len(string_split(text, ' ')) AS n,
             length(text) - (len(string_split(text, ' ')) - 1) AS sumc,
             len(list_distinct(string_split(text, ' '))) AS nd,
             len(list_filter(string_split(text, ' '),
                             w -> w IN ('the', 'a'))) AS sw
      FROM documents
    ),
    flags AS (
      SELECT source,
             CASE WHEN n BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
                  THEN 0 ELSE 1 END AS wc_v,
             CASE WHEN 2 * sumc BETWEEN 8 * n AND 10 * n
                  THEN 0 ELSE 1 END AS mwl_v,
             CASE WHEN sw >= {_GOPHER_MIN_STOPS} THEN 0 ELSE 1 END AS stop_v,
             CASE WHEN 5 * nd >= 2 * n THEN 0 ELSE 1 END AS ttr_v
      FROM d
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN wc_v + mwl_v + stop_v + ttr_v = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ROUND(SUM(CASE WHEN wc_v + mwl_v + stop_v + ttr_v = 0
                          THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
             AS retention,
           CAST(SUM(wc_v) AS BIGINT) AS wc_viol,
           CAST(SUM(mwl_v) AS BIGINT) AS mwl_viol,
           CAST(SUM(stop_v) AS BIGINT) AS stop_viol,
           CAST(SUM(ttr_v) AS BIGINT) AS ttr_viol
    FROM flags GROUP BY source
    """,
)
def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality gate (Rae et al. 2021 §A1.1,
    adapted to the fixture's vocabulary): per-source retention under
    four document rules — word count in [{_GOPHER_MIN_WORDS},
    {_GOPHER_MAX_WORDS}], mean word length in [4, 5], at least
    {_GOPHER_MIN_STOPS} stopword hits ('the'/'a' — the fixture's only
    function words), and type-token ratio >= 0.4 — plus per-rule
    violation counts so a curator sees WHICH rule is cutting a source
    before trusting the retention number.

    Every rule compares integers (mean word length as the
    cross-multiplication 8n <= 2*sum_chars <= 10n, TTR as 5*distinct
    >= 2n), so there is no float boundary for engines to disagree on;
    sum-of-word-lengths is derived as length(text) - (n-1) — exact for
    the single-space fixture join and never re-walks the token array.

    Scale: one scan, all rules map-side HOFs over the split array, one
    partial-aggregated groupBy(source). Nothing grows with the corpus
    except the scan itself — the same posture as q_text_quality, which
    this complements with the published-ruleset shape.

    Reference provenance: C7 validity gates before publish
    (/root/reference/src/SinglePsramBuffer480x480.cpp:119-149 — draw
    only after the touch passes its active/moved checks; the retention
    gate is that check for training corpora)."""
    d = spread(load_table(spark, sf_dir, "documents"), spark)
    t = F.split("text", " ")
    n = F.size(t)
    sumc = F.length("text") - (n - F.lit(1))
    nd = F.size(F.array_distinct(t))
    sw = F.size(F.filter(t, lambda w: w.isin(*_GOPHER_STOPWORDS)))
    wc_v = F.when(n.between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS), 0).otherwise(1)
    mwl_v = F.when(
        (2 * sumc >= 8 * n) & (2 * sumc <= 10 * n), 0
    ).otherwise(1)
    stop_v = F.when(sw >= _GOPHER_MIN_STOPS, 0).otherwise(1)
    ttr_v = F.when(5 * nd >= 2 * n, 0).otherwise(1)
    flags = d.select(
        "source",
        wc_v.alias("wc_v"),
        mwl_v.alias("mwl_v"),
        stop_v.alias("stop_v"),
        ttr_v.alias("ttr_v"),
    )
    kept = F.when(
        F.col("wc_v") + F.col("mwl_v") + F.col("stop_v") + F.col("ttr_v")
        == 0,
        1,
    ).otherwise(0)
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept).alias("n_kept"),
        F.round(F.sum(kept) / F.count(F.lit(1)), 4).alias("retention"),
        F.sum("wc_v").cast("long").alias("wc_viol"),
        F.sum("mwl_v").cast("long").alias("mwl_viol"),
        F.sum("stop_v").cast("long").alias("stop_viol"),
        F.sum("ttr_v").cast("long").alias("ttr_viol"),
    )


q_quality_gopher.__doc__ = q_quality_gopher.__doc__.replace(
    "{_GOPHER_MIN_WORDS}", str(_GOPHER_MIN_WORDS)
).replace("{_GOPHER_MAX_WORDS}", str(_GOPHER_MAX_WORDS)).replace(
    "{_GOPHER_MIN_STOPS}", str(_GOPHER_MIN_STOPS)
)


_LEN_BUCKET = 10  # decade buckets over the fixture's 10-99 word range


@register(
    "q_doc_length_hist",
    category="llm-text",
    oracle=f"""
    WITH d AS (
      SELECT lang, len(string_split(text, ' ')) AS n FROM documents
    ),
    b AS (
      SELECT lang,
             CAST((n // {_LEN_BUCKET}) * {_LEN_BUCKET} AS INT) AS bucket_lo,
             COUNT(*) AS n_docs,
             CAST(SUM(n) AS BIGINT) AS n_tokens
      FROM d GROUP BY lang, bucket_lo
    ),
    tot AS (SELECT lang, SUM(n_docs) AS lang_docs FROM b GROUP BY lang)
    SELECT b.lang, b.bucket_lo, b.n_docs, b.n_tokens,
           ROUND(b.n_docs * 1.0 / t.lang_docs, 4) AS share,
           ROUND(SUM(b.n_docs) OVER (
                   PARTITION BY b.lang ORDER BY b.bucket_lo
                 ) * 1.0 / t.lang_docs, 4) AS cum_share
    FROM b JOIN tot t ON t.lang = b.lang
    """,
)
def q_doc_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length histogram — decade buckets of the
    word count with within-language share and cumulative share. The
    length-distribution panel every training-data report opens with
    (sequence packing efficiency, truncation losses, and source drift
    all read straight off this curve).

    Scale: lengths are map-side (size of split — the array is never
    shuffled); the histogram aggregate keys on (lang, bucket), output
    bounded by |langs| x |buckets| regardless of corpus size. The
    per-language total and the cumulative sum are BOTH windows over
    that aggregated relation — dozens of rows — partitioned by lang,
    so the unbounded-window discipline (tests/test_plans.py) is
    satisfied on model-sized data, not row data. (Round 16: the total
    was previously a broadcast-joined groupBy of b, whose broadcast
    build recomputed the WHOLE corpus histogram — two full document
    scans per run, plans/r16/q_doc_length_hist_before.txt nodes 1+9;
    the unordered window shares b's single lang exchange instead —
    guide §2.4. sum(n_docs) over (partition by lang) is the same exact
    long total the join delivered; the explicit lang-not-null filter
    replays the inner join's implicit null drop.) share divides two
    exact longs (identical doubles on both engines) and rounds at 4 dp.

    Reference provenance: C7 summary tables sized by config, not data
    (/root/reference/src/DoublePsramBuffer480x480.cpp:65-66,112-127 —
    block table sized by a config constant, filled from a streaming
    pass)."""
    d = spread(load_table(spark, sf_dir, "documents"), spark)
    n = F.size(F.split("text", " "))
    b = (
        d.filter(F.col("lang").isNotNull())
        .select("lang", n.alias("n"))
        .groupBy(
            "lang",
            (F.floor(F.col("n") / _LEN_BUCKET) * _LEN_BUCKET)
            .cast("int")
            .alias("bucket_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("n_tokens"),
        )
    )
    wl = Window.partitionBy("lang")
    w = Window.partitionBy("lang").orderBy("bucket_lo")
    lang_docs = F.sum("n_docs").over(wl)
    return b.select(
        "lang",
        "bucket_lo",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_docs") / lang_docs, 4).alias("share"),
        F.round(F.sum("n_docs").over(w) / lang_docs, 4).alias("cum_share"),
    )


@register(
    "q_langid_confusion",
    category="llm-text",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, {_langid_score_sql()}
      FROM documents
    ),
    guessed AS (
      SELECT lang AS labeled_lang,
             CASE GREATEST(score_en, score_de, score_es, score_fr, score_zh)
               WHEN score_en THEN 'en'
               WHEN score_de THEN 'de'
               WHEN score_es THEN 'es'
               WHEN score_fr THEN 'fr'
               ELSE 'zh'
             END AS guessed_lang
      FROM scored
    ),
    cells AS (
      SELECT labeled_lang, guessed_lang, COUNT(*) AS n_docs
      FROM guessed GROUP BY labeled_lang, guessed_lang
    ),
    tot AS (
      SELECT labeled_lang, SUM(n_docs) AS n_labeled
      FROM cells GROUP BY labeled_lang
    )
    SELECT c.labeled_lang, c.guessed_lang, c.n_docs,
           ROUND(c.n_docs * 1.0 / t.n_labeled, 4) AS row_share,
           c.labeled_lang = c.guessed_lang AS is_correct
    FROM cells c JOIN tot t ON t.labeled_lang = c.labeled_lang
    """,
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: q_text_langid's heuristic guesser
    evaluated against the labeled lang column — per (labeled, guessed)
    cell counts with the within-label share (the per-class recall
    readout on the diagonal). The calibration a pipeline runs before
    trusting lang tags for mixture weighting: q_text_langid emits
    per-doc guesses, this emits the model-quality summary a human
    actually reads.

    Scale: the guess is the same map-side argmax (one scan, no
    shuffle); the matrix aggregate keys on (labeled, guessed) —
    output bounded by |langs|^2 — and the share join broadcasts the
    |langs|-row totals.

    Reference provenance: C8 self-evaluation per frame
    (/root/reference/src/SinglePsramBuffer480x480.cpp:166-175 — the
    loop measures and reports its own stages; the ground-truth
    confusion matrix is the engine-side generalization)."""
    d = spread(load_table(spark, sf_dir, "documents"), spark)
    # the single-evaluation argmax fold (round 15) — see _langid_best;
    # only the label is needed here, so the scores evaluate once per row
    guess = _langid_best()["l"]
    cells = (
        d.select(F.col("lang").alias("labeled_lang"), guess.alias("guessed_lang"))
        .groupBy("labeled_lang", "guessed_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = cells.groupBy("labeled_lang").agg(F.sum("n_docs").alias("n_labeled"))
    return cells.join(F.broadcast(tot), "labeled_lang").select(
        "labeled_lang",
        "guessed_lang",
        "n_docs",
        F.round(F.col("n_docs") / F.col("n_labeled"), 4).alias("row_share"),
        (F.col("labeled_lang") == F.col("guessed_lang")).alias("is_correct"),
    )
