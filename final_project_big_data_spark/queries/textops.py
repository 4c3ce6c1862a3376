"""Text-analysis operators for an LLM training-data pipeline (SURVEY C22+).

All hot-path logic is built-in ``pyspark.sql.functions`` (JVM, codegen) —
no Python UDFs. Every operator is oracle-checked against DuckDB computing
the identical expression; the shared ones (tokens, n-grams, document
scores) come from ``operators/text.py`` with their DuckDB halves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from final_project_big_data_spark.io import load_table
from final_project_big_data_spark.operators.text import (
    fp_norm,
    fp_norm_sql,
    lang_argmax,
    lang_argmax_sql,
    lang_scores,
    lang_scores_sql,
    n_words,
    n_words_sql,
    ngram_transform,
    quality,
    quality_sql,
    stop_ratio,
    stop_ratio_sql,
    word_ngrams,
    word_ngrams_sql,
    words,
    words_sql,
)
from final_project_big_data_spark.plans.parallelism import widen
from final_project_big_data_spark.plans.ordering import sorted_project
from final_project_big_data_spark.queries import query

# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation.
_BPEISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"



@query(
    "t01_token_count",
    oracle=rf"""
    SELECT doc_id,
           CAST({n_words_sql()} AS INT)                                   AS n_tokens,
           CAST(len(list_distinct({words_sql()})) AS INT)                AS n_distinct,
           CAST(len(regexp_extract_all(text, '{_BPEISH}')) AS INT)       AS n_bpeish
    FROM documents ORDER BY doc_id
    """,
    category="text",
)
def t01(spark: SparkSession, sf: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting (pure JVM expressions)."""
    d = load_table(spark, sf, "documents")
    toks = words()
    return sorted_project(
        d,
        ["doc_id"],
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.regexp_count(F.col("text"), F.lit(_BPEISH)).alias("n_bpeish"),
    )


@query(
    "t02_lang_id",
    oracle=f"""
    WITH scored AS (SELECT doc_id, lang, {lang_scores_sql()} FROM documents)
    SELECT *, {lang_argmax_sql()} AS pred_lang FROM scored ORDER BY doc_id
    """,
    category="text",
)
def t02(spark: SparkSession, sf: str) -> DataFrame:
    """Marker-based language-ID: per-language hit counts → deterministic argmax."""
    d = load_table(spark, sf, "documents").orderBy("doc_id")
    scored = d.select("doc_id", "lang", *lang_scores())
    return scored.withColumn("pred_lang", lang_argmax())


@query(
    "t03_quality_score",
    oracle=rf"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT)                           AS n_chars_calc,
           CAST({n_words_sql()} AS INT)                           AS n_words,
           round(length(text) * 1.0 / {n_words_sql()}, 4)        AS avg_word_len,
           round({stop_ratio_sql()}, 4)                            AS stop_ratio,
           round(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) * 1.0
                 / length(text), 4)                               AS punct_ratio,
           {quality_sql()}                                        AS quality
    FROM documents ORDER BY doc_id
    """,
    category="text",
)
def t03(spark: SparkSession, sf: str) -> DataFrame:
    """Heuristic quality scoring: length/stopword/punctuation ratios. An
    empty document's punctuation ratio is NULL (0/0), as in DuckDB."""
    d = load_table(spark, sf, "documents")
    punct = F.regexp_count(F.col("text"), F.lit(r"[^A-Za-z0-9\s]"))
    chars = F.length("text")
    return sorted_project(
        d,
        ["doc_id"],
        "doc_id",
        chars.cast("long").alias("n_chars_calc"),
        n_words().alias("n_words"),
        F.round(chars * 1.0 / n_words(), 4).alias("avg_word_len"),
        F.round(stop_ratio(), 4).alias("stop_ratio"),
        F.round(F.try_divide(punct * 1.0, chars), 4).alias("punct_ratio"),
        quality().alias("quality"),
    )


@query(
    "t04_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(text) AS fp,
           {fp_norm_sql()} AS fp_norm,
           md5(array_to_string({words_sql()}[1:8], ' ')) AS fp_prefix
    FROM documents ORDER BY doc_id
    """,
    category="text",
)
def t04(spark: SparkSession, sf: str) -> DataFrame:
    """Document fingerprinting: exact, normalized, and 8-word-prefix hashes."""
    d = load_table(spark, sf, "documents")
    return sorted_project(
        d,
        ["doc_id"],
        "doc_id",
        F.md5(F.col("text")).alias("fp"),
        fp_norm().alias("fp_norm"),
        F.md5(F.concat_ws(" ", F.slice(words(), 1, 8))).alias("fp_prefix"),
    )


@query(
    "t05_tfidf",
    oracle=f"""
    WITH words AS (SELECT doc_id, unnest({words_sql()}) AS word FROM documents),
    tf AS (
      SELECT doc_id, word, count(*) AS tf
      FROM words GROUP BY doc_id, word
    ),
    df AS (
      SELECT word, count(DISTINCT doc_id) AS df FROM words GROUP BY word
    ),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.word AS word, CAST(tf.tf AS BIGINT) AS tf,
           round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 4)
             AS tfidf
    FROM tf JOIN df ON tf.word = df.word CROSS JOIN n
    WHERE tf.doc_id < 100
    ORDER BY doc_id, word
    """,
    category="text",
)
def t05(spark: SparkSession, sf: str) -> DataFrame:
    """From-scratch TF-IDF (smooth-idf: ln((N+1)/(df+1))+1), pure JVM.

    The relational form of text vectorization: tf = count per (doc, word)
    — one shuffle; df = distinct-doc count per word — one shuffle of
    (word, doc) pairs; idf joined back via broadcast (vocabulary ≪ corpus).
    The MLlib HashingTF/IDF surface rides the same math with hashed
    dimensions (tests/test_ml.py); this query pins the exact values.
    """
    d = widen(load_table(spark, sf, "documents"))
    tokens = d.select("doc_id", F.explode(words()).alias("word"))
    # Round-12 restructure (guide §2.3/§2.4). The old shape aggregated tf
    # over the WHOLE corpus, window-counted df over every tf row (a full
    # shuffle of the tf relation by word, plus a per-partition sort), and
    # only THEN applied the doc_id < 100 output slice. Now the slice
    # predicate sits in the tf branch — it pushes into the parquet scan
    # (PushedFilters), so the tf aggregate touches ~100 docs — and df is
    # its own aggregate over distinct (word, doc) pairs: the same first
    # exchange bytes as the old tf agg, but the second exchange carries
    # map-side-combined per-word partial counts instead of every tf row,
    # and the window sort is gone. The bounded tf slice broadcasts into
    # the df stream, so no third full-width exchange exists. Values are
    # unchanged: df(word) = #docs containing word either way, and tf rows
    # for doc_id < 100 are computed identically.
    tf = (
        tokens.filter(F.col("doc_id") < 100)
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = (
        tokens.select("word", "doc_id")
        .distinct()
        .groupBy("word")
        .agg(F.count("*").alias("df"))
    )
    # corpus size as a broadcast 1-row frame, NOT d.count(): builders are
    # contractually lazy (zero jobs at build time), and at 100 TB an eager
    # count here would serialize a full scan before the query even starts.
    n = d.agg(F.count("*").alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    return (
        dfreq.join(F.broadcast(tf), "word")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", F.round(F.col("tf") * idf, 4))
        .select("doc_id", "word", "tf", "tfidf")
        .orderBy("doc_id", "word")
    )


@query(
    "t06_bigram_logprob",
    oracle=f"""
    WITH wd AS (SELECT doc_id, {words_sql()} AS w FROM documents),
    bi AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 1),
                                   i -> w[i])) AS w1,
             unnest(list_transform(generate_series(1, len(w) - 1),
                                   i -> w[i + 1])) AS w2
      FROM wd WHERE len(w) >= 2
    ),
    c12 AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS c FROM bi GROUP BY w1)
    SELECT b.doc_id,
           ROUND(avg(ln(c12.c / CAST(c1.c AS DOUBLE))), 4) AS avg_logprob,
           CAST(count(*) AS BIGINT) AS n_bigrams
    FROM bi b
    JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
    JOIN c1 ON b.w1 = c1.w1
    GROUP BY b.doc_id ORDER BY doc_id
    """,
    category="text",
)
def t06(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus bigram language-model scoring — per-doc mean log P(w₂|w₁)
    under the MLE bigram model trained on the SAME corpus (the standard
    perplexity-style quality filter: low-probability word sequences mark
    boilerplate/garbled text).

    Round-12 optimization (guide §2.3 "aggregate before you shuffle"):
    the raw bigram-instance stream used to be exploded THREE times (once
    per count table, once for scoring) and carried row-per-instance
    through two word-keyed joins. Now ONE hash-agg collapses instances
    to (doc_id, w1, w2, k) right after the explode — everything
    downstream (both count tables, both joins, the per-doc fold) runs
    on distinct per-doc bigrams, the count tables re-aggregate that
    frame (its exchange is planned once and reused), and the per-doc
    average becomes the k-weighted fold Σk·ln(c12/c1) / Σk — the same
    sum of the same addends, grouped. The corpus-side counts stay the
    "train once, score everything" artifact a 100 TB curation run would
    persist and broadcast.
    """
    d = widen(load_table(spark, sf, "documents")).select(
        "doc_id", words().alias("w")
    )
    pairs = ngram_transform(
        2, "struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2)"
    )
    bi = d.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    )
    g = bi.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("k"))
    c12 = g.groupBy("w1", "w2").agg(F.sum("k").alias("c12"))
    c1 = g.groupBy("w1").agg(F.sum("k").alias("c1"))
    return (
        g.join(c12, ["w1", "w2"])
        .join(c1, ["w1"])
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.col("k") * F.log(F.col("c12") / F.col("c1").cast("double"))
                )
                / F.sum("k"),
                4,
            ).alias("avg_logprob"),
            F.sum("k").alias("n_bigrams"),
        )
        .orderBy("doc_id")
    )


@query(
    "t07_repetition_score",
    oracle=f"""
    WITH wd AS (SELECT doc_id, {words_sql()} AS w FROM documents),
    tg AS (SELECT doc_id, {word_ngrams_sql(3)} AS grams FROM wd WHERE len(w) >= 3)
    SELECT doc_id,
           CAST(len(grams) AS INT) AS n_trigrams,
           CAST(len(list_distinct(grams)) AS INT) AS n_distinct,
           ROUND(1.0 - len(list_distinct(grams))
                       / CAST(len(grams) AS DOUBLE), 4) AS rep_frac
    FROM tg ORDER BY doc_id
    """,
    category="text",
)
def t07(spark: SparkSession, sf: str) -> DataFrame:
    """Repetition scoring — duplicated-trigram fraction per document (the
    Gopher/C4-style boilerplate filter: templated or looping text shows a
    high share of repeated n-grams). Entirely MAP-ONLY: trigrams, distinct
    count, and the ratio are per-row array expressions — zero shuffles,
    embarrassingly parallel at any scale, the cheapest quality signal in
    the curation stack (contrast t06's corpus-wide model).
    """
    d = widen(load_table(spark, sf, "documents")).select(
        "doc_id", words().alias("w")
    ).filter(F.size("w") >= 3)
    return (
        d.select("doc_id", word_ngrams(3).alias("grams"))
        .select(
            "doc_id",
            F.size("grams").alias("n_trigrams"),
            F.size(F.array_distinct("grams")).alias("n_distinct"),
            F.round(
                F.lit(1.0)
                - F.size(F.array_distinct("grams"))
                / F.size("grams").cast("double"),
                4,
            ).alias("rep_frac"),
        )
        .orderBy("doc_id")
    )


@query(
    "t08_pii_redaction",
    oracle="""
    WITH blob AS (
      SELECT c_custkey,
             'reach ' || c_name || ' <user' || CAST(c_custkey AS VARCHAR)
             || '@mail.example> or user' || CAST(c_custkey AS VARCHAR)
             || '@backup.example, tel 555-' || lpad(CAST(c_custkey AS VARCHAR), 4, '0')
             || '-' || CAST(c_nationkey AS VARCHAR)
             || ' / 555-' || lpad(CAST(c_nationkey AS VARCHAR), 4, '0')
             || '-99' AS contact
      FROM customer
    )
    SELECT c_custkey,
           regexp_replace(
             regexp_replace(contact,
               '[a-z0-9]+@[a-z]+\\.[a-z]+', '[EMAIL]', 'g'),
             '555-[0-9]{4}-[0-9]+', '[PHONE]', 'g') AS redacted
    FROM blob ORDER BY c_custkey
    """,
    category="text",
)
def t08(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction — the pre-training scrub pass: mask every email and
    phone-shaped span with typed placeholders, all occurrences per row
    (two emails + two phones per blob exercise global replacement;
    DuckDB needs the explicit 'g' flag to match Spark's
    replace-all ``regexp_replace`` semantics).

    The PII-shaped text is composed deterministically from customer fields
    (the slimmed fixture has no phone column) so both engines redact the
    identical byte stream. MAP-ONLY: zero shuffles, pushdown-friendly —
    the redaction cost at 100 TB is exactly one regex pass per row, and
    the patterns are anchored enough (literal '@', '555-') to stay out of
    catastrophic-backtracking territory in Java's engine.
    """
    c = load_table(spark, sf, "customer")
    key = F.col("c_custkey").cast("string")
    contact = F.concat(
        F.lit("reach "), F.col("c_name"),
        F.lit(" <user"), key, F.lit("@mail.example> or user"), key,
        F.lit("@backup.example, tel 555-"), F.lpad(key, 4, "0"),
        F.lit("-"), F.col("c_nationkey").cast("string"),
        F.lit(" / 555-"), F.lpad(F.col("c_nationkey").cast("string"), 4, "0"),
        F.lit("-99"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(contact, r"[a-z0-9]+@[a-z]+\.[a-z]+", "[EMAIL]"),
        r"555-[0-9]{4}-[0-9]+",
        "[PHONE]",
    )
    return c.select("c_custkey", redacted.alias("redacted")).orderBy(
        "c_custkey"
    )


@query(
    "t09_top_bigrams",
    oracle=f"""
    WITH w AS (SELECT doc_id, {words_sql()} AS w FROM documents),
    bg AS (SELECT unnest({word_ngrams_sql(2)}) AS bigram FROM w)
    SELECT bigram, count(*) AS n
    FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 20
    """,
    category="text",
)
def t09(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level top-k bigram counts — the vocabulary/collocation scan
    behind tokenizer training and contamination screens.

    Shape at scale: explode is map-side, the count aggregate is
    partial-then-final (map-side combine collapses each partition's
    repeated bigrams before the single shuffle), and the top-20 compiles
    to TakeOrderedAndProject — no global sort of the n-gram vocabulary.
    Unlike t06's per-doc model, output size is k regardless of corpus
    size.
    """
    d = widen(load_table(spark, sf, "documents")).select(words().alias("w"))
    return (
        d.select(F.explode(word_ngrams(2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


_CONTAM_N = 4  # word n-gram width for the contamination screen
_BENCH_MOD = 50  # doc_id % 50 == 0 plays the held-out benchmark set


@query(
    "t10_contamination",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct({word_ngrams_sql(_CONTAM_N)})) AS g
      FROM (SELECT doc_id, {words_sql()} AS w FROM documents)
    ),
    bench AS (SELECT doc_id AS bench_id, g FROM sh
              WHERE doc_id % {_BENCH_MOD} = 0)
    SELECT s.doc_id,
           CAST(count(DISTINCT s.g) AS BIGINT) AS n_shared_ngrams,
           CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
    FROM sh s JOIN bench b ON s.g = b.g
    WHERE s.doc_id % {_BENCH_MOD} <> 0
    GROUP BY s.doc_id ORDER BY s.doc_id
    """,
    category="text",
)
def t10(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark-contamination screen — the eval-leak detector every
    LLM data pipeline runs before training: flag corpus documents sharing
    ≥1 distinct word {n}-gram with a held-out benchmark set (here the
    ``doc_id % {m} == 0`` slice plays the benchmark), reporting how many
    n-grams leak and how many benchmark docs are hit.

    Scale shape: both sides reduce to (doc, distinct-n-gram) via per-row
    ``array_distinct`` (no shuffle), the contamination test is a plain
    equi join ON THE N-GRAM — shuffles hash(n-gram), never a doc×doc
    product — and the per-doc rollup is one partial-then-final aggregate.
    At 100 TB the benchmark side is small enough to broadcast, making the
    screen a map-only pass over the corpus; to cut the shuffled bytes of
    the big side, join on ``xxhash64(n-gram)`` instead of the raw string
    (not done here only because the oracle compares exact strings).
    """
    d = widen(load_table(spark, sf, "documents")).select(
        "doc_id", words().alias("w")
    )
    sh = d.select(
        "doc_id", F.explode(F.array_distinct(word_ngrams(_CONTAM_N))).alias("g")
    )
    bench = (
        sh.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select(F.col("doc_id").alias("bench_id"), "g")
    )
    corpus = sh.filter(F.col("doc_id") % _BENCH_MOD != 0)
    return (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").alias("n_shared_ngrams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
        .orderBy("doc_id")
    )


t10.__doc__ = t10.__doc__.format(n=_CONTAM_N, m=_BENCH_MOD)


_PACK_LEN = 256  # tokens per packed training sequence


@query(
    "t11_sequence_packing",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {n_words_sql()} AS n_tokens FROM documents),
    offs AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS start_off
      FROM toks
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(start_off, 0) // {_PACK_LEN} AS BIGINT) AS start_seq,
           CAST((coalesce(start_off, 0) + n_tokens - 1) // {_PACK_LEN}
                AS BIGINT) AS end_seq
    FROM offs ORDER BY doc_id
    """,
    category="text",
)
def t11(spark: SparkSession, sf: str) -> DataFrame:
    """GPT-style sequence packing: concatenate the corpus in doc_id order
    and cut every {L} tokens; each document maps to the [start_seq,
    end_seq] range of training sequences it lands in (spanning a boundary
    → it occupies two or more). The op behind "tokens per epoch" and
    boundary-crossing accounting in every LLM data loader.

    Expressed as a distributed prefix-sum (``operators.indexing.
    with_prefix_sum``): range-exchange on doc_id, a #partitions-row side
    aggregate folded into per-partition exclusive offsets, broadcast
    back, plus a partition-local running sum — never the unpartitioned
    ``ORDER BY`` window that would collapse a 100 TB corpus into one
    WindowExec task. Fixture scale pins the exact arithmetic
    cross-engine.
    """
    from final_project_big_data_spark.operators.indexing import with_prefix_sum

    d = widen(load_table(spark, sf, "documents"))
    toks = d.select("doc_id", n_words().alias("n_tokens"))
    offs = with_prefix_sum(toks, ["doc_id"], "n_tokens", sum_col="start_off")
    return offs.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor(F.col("start_off") / _PACK_LEN).alias("start_seq"),
        F.floor((F.col("start_off") + F.col("n_tokens") - 1) / _PACK_LEN).alias(
            "end_seq"
        ),
    ).orderBy("doc_id")


t11.__doc__ = t11.__doc__.format(L=_PACK_LEN)


_CHUNK_LEN = 32  # tokens per chunk
_CHUNK_STRIDE = 24  # overlap = _CHUNK_LEN - _CHUNK_STRIDE


@query(
    "t12_chunk_windows",
    oracle=f"""
    WITH wd AS (SELECT doc_id, {words_sql()} AS w FROM documents WHERE doc_id < 60)
    SELECT doc_id, CAST(k AS INT) AS chunk_no,
           list_aggregate(w[k * {_CHUNK_STRIDE} + 1 :
                            k * {_CHUNK_STRIDE} + {_CHUNK_LEN}],
                          'string_agg', ' ') AS chunk_text,
           CAST(least(len(w) - k * {_CHUNK_STRIDE}, {_CHUNK_LEN}) AS INT)
             AS chunk_tokens
    FROM wd, UNNEST(range(0, CAST(ceil(greatest(len(w) - {_CHUNK_LEN}, 0)
                          / {_CHUNK_STRIDE}.0) AS BIGINT) + 1)) AS t(k)
    ORDER BY doc_id, chunk_no
    """,
    category="text",
)
def t12(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping chunk windows ({L}-token windows, stride {S}): the
    retrieval/embedding-pipeline chunker (context-window packing with
    overlap so no span is split across chunk boundaries unseen). Row-local
    explode — chunk count per doc is ⌈(n−L)/S⌉+1, output is bounded by
    (n/S)× input tokens, and nothing shuffles until the presentation sort.
    d09 dedups these chunks; this entry pins the chunking itself.
    """
    d = widen(load_table(spark, sf, "documents")).filter(F.col("doc_id") < 60)
    wd = d.select("doc_id", words().alias("w"))
    n_chunks = (
        F.ceil(
            F.greatest(F.size("w") - _CHUNK_LEN, F.lit(0)) / float(_CHUNK_STRIDE)
        )
        + 1
    ).cast("long")
    return (
        wd.select(
            "doc_id",
            "w",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("k"),
        )
        .select(
            "doc_id",
            F.col("k").cast("int").alias("chunk_no"),
            F.array_join(
                F.slice(F.col("w"), F.col("k") * _CHUNK_STRIDE + 1, _CHUNK_LEN),
                " ",
            ).alias("chunk_text"),
            F.least(
                F.size("w") - F.col("k") * _CHUNK_STRIDE, F.lit(_CHUNK_LEN)
            )
            .cast("int")
            .alias("chunk_tokens"),
        )
        .orderBy("doc_id", "chunk_no")
    )


t12.__doc__ = t12.__doc__.format(L=_CHUNK_LEN, S=_CHUNK_STRIDE)
