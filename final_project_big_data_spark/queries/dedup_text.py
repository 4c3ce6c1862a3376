"""Passage/chunk-level text dedup: fixed-width chunk dedup (d09),
prefix-filtered Jaccard similarity join (d11), banded edit-distance pairs (d12),
content-defined chunking + CDC dedup (d14), and inverted-index
containment pairs (d15). Signature-based dedup (exact, MinHash/LSH,
SimHash, bloom, clusters) stays in ``dedup.py``, which owns the shingle
helpers; tokens and hashes come from ``operators/text.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from final_project_big_data_spark.io import load_table
from final_project_big_data_spark.operators.text import (
    md5_int,
    md5_int_sql,
    words,
    words_sql,
)
from final_project_big_data_spark.plans.parallelism import widen
from final_project_big_data_spark.queries import query
from final_project_big_data_spark.queries.dedup import (
    _SHINGLE_SQL,
    _shingled,
    length_block_pairs,
    length_blocks_sql,
    lsh_candidate_pairs,
)

# ------------------------------------------------------ passage-level dedup

_CHUNK_WORDS = 8  # non-overlapping passage width, in words


@query(
    "d09_chunk_dedup",
    oracle=f"""
    WITH w AS (SELECT doc_id, {words_sql()} AS w FROM documents),
    ch AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(0, CAST(len(w) // {_CHUNK_WORDS} AS INT) - 1),
               i -> array_to_string(
                      w[{_CHUNK_WORDS}*i + 1 : {_CHUNK_WORDS}*(i + 1)], ' ')
             )) AS chunk
      FROM w
    ),
    cnt AS (
      SELECT doc_id, count(*) OVER (PARTITION BY chunk) AS freq FROM ch
    )
    SELECT doc_id,
           count(*) AS n_chunks,
           -- CAST: DuckDB SUM(int) is HUGEINT, which pandas renders as
           -- float64 — hash-drift vs Spark's bigint (driver-mimic finding)
           CAST(sum(CASE WHEN freq >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_chunks,
           ROUND(sum(CASE WHEN freq >= 2 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS dup_ratio
    FROM cnt GROUP BY doc_id ORDER BY doc_id
    """,
    category="dedup",
)
def d09(spark: SparkSession, sf: str) -> DataFrame:
    """Passage-level exact dedup: split every document into non-overlapping
    {cw}-word chunks and score each document by the fraction of its chunks
    that occur anywhere else in the corpus (the sequence-level dedup signal
    used to strip boilerplate/templated spans from LLM training corpora).

    Plan: one explode (docs → chunks), ONE shuffle on the chunk text for a
    chunk-partitioned count window, then the per-doc re-aggregation —
    Catalyst reuses nothing across stages wider than needed, and no
    all-pairs comparison exists at any point. At 100 TB the chunk shuffle
    key should be md5(chunk) (8-byte prefix) rather than raw text; raw
    text is kept here so the fixture oracle stays byte-identical.
    """
    d = widen(load_table(spark, sf, "documents")).select(
        "doc_id", words().alias("w")
    )
    n_chunks = (F.size("w") / _CHUNK_WORDS).cast("int")
    chunk_expr = F.expr(
        f"transform(sequence(1, size(w) div {_CHUNK_WORDS}),"
        f" i -> array_join(slice(w, {_CHUNK_WORDS} * (i - 1) + 1,"
        f" {_CHUNK_WORDS}), ' '))"
    )
    from pyspark.sql import Window as W

    chunks = d.filter(n_chunks >= 1).select(
        "doc_id", F.explode(chunk_expr).alias("chunk")
    )
    with_freq = chunks.withColumn(
        "freq", F.count(F.lit(1)).over(W.partitionBy("chunk"))
    )
    dup = F.sum((F.col("freq") >= 2).cast("long"))
    return (
        with_freq.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            dup.alias("n_dup_chunks"),
            F.round(dup / F.count("*"), 4).alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )


d09.__doc__ = d09.__doc__.format(cw=_CHUNK_WORDS)


_PPJ_T = 0.9  # Jaccard threshold for the prefix-filtered similarity join


@query(
    "d11_prefix_filter_jaccard",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(list_distinct({words_sql()})) AS tok
      FROM documents
    ),
    freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
    ranked AS (
      SELECT t.doc_id, t.tok,
             row_number() OVER (PARTITION BY t.doc_id
                                ORDER BY f.cnt, t.tok) AS rn,
             count(*) OVER (PARTITION BY t.doc_id) AS n
      FROM toks t JOIN freq f ON t.tok = f.tok
    ),
    prefix AS (SELECT * FROM ranked WHERE rn <= n - ceil({_PPJ_T} * n) + 1),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.n AS na, b.n AS nb
      FROM prefix a JOIN prefix b
        ON a.tok = b.tok AND a.doc_id < b.doc_id
      WHERE b.n >= {_PPJ_T} * a.n AND b.n <= a.n / {_PPJ_T}
    ),
    shared AS (
      SELECT c.da, c.db, c.na, c.nb, count(*) AS s
      FROM cand c
      JOIN toks x ON x.doc_id = c.da
      JOIN toks y ON y.doc_id = c.db AND y.tok = x.tok
      GROUP BY c.da, c.db, c.na, c.nb
    )
    SELECT da AS doc_id, CAST(count(*) AS BIGINT) AS n_similar_later,
           round(max(s * 1.0 / (na + nb - s)), 4) AS max_jaccard
    FROM shared WHERE s * 1.0 / (na + nb - s) >= {_PPJ_T}
    GROUP BY da ORDER BY doc_id
    """,
    category="dedup",
)
def d11(spark: SparkSession, sf: str) -> DataFrame:
    """Prefix-filtered set-similarity self-join (PPJoin-style): exact
    word-set Jaccard ≥ t without comparing all pairs. Two filters from the
    similarity-join literature do the pruning BEFORE any pair
    materializes: (1) prefix filter — order each doc's tokens by
    ascending global frequency; two sets can reach Jaccard t only if
    their first ``n − ⌈t·n⌉ + 1`` rarest tokens intersect, so candidates
    come from an equi-join on PREFIX tokens only (rare tokens → tiny
    postings); (2) size filter — |smaller| ≥ t·|larger|. Survivors get
    exact verification via shared-token counts.

    This is the scale path d05's static (lang, size-bucket) blocking
    can't reach: blocking quality there depends on metadata, while the
    prefix bound is adaptive to the data's own frequency skew — the
    candidate set shrinks as the vocabulary grows (rarer prefixes),
    exactly the behavior wanted at 100 TB. Every stage is a keyed
    shuffle: token frequency (token), per-doc rank (doc), candidate
    generation (prefix token), verification (pair). Output is the
    per-doc summary (later-neighbor count + max Jaccard) so the result
    stays bounded by |docs| while the join itself is the full exact
    similarity join.

    Degenerate-vocabulary caveat: the win assumes a Zipfian vocabulary
    (real corpora), where prefix tokens are genuinely rare. On a
    template-generated corpus whose whole vocabulary is shared (this
    fixture), even the rarest token has long postings and candidate
    generation degrades toward blocked all-pairs — measured ~36 s at
    sf0.1 vs ~5 s at sf0.01. The production escape hatch for a hot
    prefix token is the d03 idiom: cap or sub-block postings above a
    bound (lossy) or fall back to minhash-LSH (d03) for the offending
    stratum; lossless exactness is kept here because the fixture sweep
    is the correctness gate.
    """
    d = widen(load_table(spark, sf, "documents"))
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(words())).alias("tok")
    ).distinct()
    freq = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    w_rank = W.partitionBy("doc_id").orderBy("cnt", "tok")
    w_n = W.partitionBy("doc_id")
    ranked = (
        toks.join(freq, "tok")
        .withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n", F.count("*").over(w_n))
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("n") - F.ceil(_PPJ_T * F.col("n")) + 1
    )
    a = prefix.select(
        F.col("doc_id").alias("da"), "tok", F.col("n").alias("na")
    )
    b = prefix.select(
        F.col("doc_id").alias("db"), "tok", F.col("n").alias("nb")
    )
    cand = (
        a.join(b, "tok")
        .filter(
            (F.col("da") < F.col("db"))
            & (F.col("nb") >= _PPJ_T * F.col("na"))
            & (F.col("nb") <= F.col("na") / _PPJ_T)
        )
        .select("da", "db", "na", "nb")
        .distinct()
    )
    x = toks.select(F.col("doc_id").alias("da"), "tok")
    y = toks.select(F.col("doc_id").alias("db"), "tok")
    shared = (
        cand.join(x, "da")
        .join(y, ["db", "tok"])
        .groupBy("da", "db", "na", "nb")
        .agg(F.count("*").alias("s"))
    )
    jac = F.col("s") * 1.0 / (F.col("na") + F.col("nb") - F.col("s"))
    return (
        shared.filter(jac >= _PPJ_T)
        .groupBy(F.col("da").alias("doc_id"))
        .agg(
            F.count("*").alias("n_similar_later"),
            F.round(F.max(jac), 4).alias("max_jaccard"),
        )
        .orderBy("doc_id")
    )


_EDIT_T = 80  # absolute edit-distance threshold (~5th pct of blocked pairs)


@query(
    "d12_edit_distance_pairs",
    oracle=f"""
    WITH {length_blocks_sql(
        "documents", "text", cond=f"AND abs(a.n_chars - b.n_chars) <= {_EDIT_T}"
    )}
    SELECT doc_a, doc_b, CAST(levenshtein(text_a, text_b) AS INT) AS edit_dist
    FROM blocked
    WHERE levenshtein(text_a, text_b) <= {_EDIT_T}
    ORDER BY doc_a, doc_b
    """,
    category="dedup",
)
def d12(spark: SparkSession, sf: str) -> DataFrame:
    """Edit-distance near-dup pairs: blocked candidates → BANDED
    levenshtein — the character-level complement to d05's
    token-set Jaccard (catches shuffled-word or heavy-punctuation
    near-copies that shingles miss, and vice versa).

    Scale shape, three nested prunes so the O(len²) DP only ever runs
    on plausible pairs: (1) d05's blocking rule, ``length_block_pairs``
    (expected blocks ~32 docs at any corpus size, boundary recall
    kept, the join stays an equi-join);
    (2) the length filter ``|len_a − len_b| ≤ T`` (a NECESSARY condition
    for distance ≤ T) cuts pairs before any text comparison;
    (3) Spark's threshold form ``levenshtein(a, b, T)`` runs the BANDED
    DP — O(len·T) instead of O(len²), returning -1 past T so distant
    pairs exit early. The oracle runs DuckDB's full levenshtein with
    the same predicates: identical surviving pairs, identical distances
    (values ≤ T are exact in both forms).

    Measured cost profile (SCALE.md, d05/d12 volume proof): ~24 s at
    500 docs → ~65 s Spark / ~24 s DuckDB at 5,000 — LINEAR in corpus
    size at fixed block size (pairs ≈ 16·n), and the per-pair DP is
    identical work in both engines, so the 2.7× ratio is string-kernel constant, not a plan
    defect. This is the expensive member of the dedup family BY NATURE
    (character-level DP vs d03/d05's hash/set arithmetic); at 100 TB it
    runs as the final verification pass on LSH/Jaccard CANDIDATES, not
    as the primary sweep — which is exactly the composition its shared
    blocking scheme enables.
    """
    docs = load_table(spark, sf, "documents")
    dist = F.levenshtein(F.col("a.text"), F.col("b.text"), _EDIT_T)
    return (
        length_block_pairs(
            docs,
            docs.select("doc_id", "lang", "n_chars", "text"),
            F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= _EDIT_T,
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.alias("edit_dist"),
        )
        .filter(F.col("edit_dist") != -1)
        .orderBy("doc_a", "doc_b")
    )


# ----------------------------------------- content-defined chunking (CDC)

_CDC_DIV = 8  # boundary when the 2-word window hash % 8 == 0 → mean ≈ 8 words


def _cdc_starts() -> Column:
    """Chunk start indexes: 1, then every i ≥ 2 whose (w[i-1], w[i]) window
    hash ≡ 0 (mod div). Needs ``size(w) ≥ 2``."""
    w = F.col("w")
    cut = F.filter(
        F.sequence(F.lit(2), F.size(w)),
        lambda i: md5_int(
            F.concat(F.element_at(w, i - 1), F.lit(" "), F.element_at(w, i))
        )
        % _CDC_DIV
        == 0,
    )
    return F.concat(F.array(F.lit(1)), cut)


# exclusive end offsets = starts shifted left, with size(w)+1 appended;
# materialized as its OWN column (``cdc_ends``) so the per-chunk lambda
# below does a plain element_at instead of rebuilding the shifted array
# per chunk — keeps extraction O(chunks), not O(chunks^2)
_CDC_ENDS = (
    "concat(slice(cdc_starts, 2, size(cdc_starts) - 1),"
    " array(size(w) + 1))"
)
_CDC_CHUNKS = """
    transform(
      sequence(1, size(cdc_starts)),
      j -> array_join(
             slice(w, element_at(cdc_starts, j),
                   element_at(cdc_ends, j) - element_at(cdc_starts, j)),
             ' '))
"""


@query(
    "d14_cdc_chunks",
    oracle=f"""
    WITH w AS (SELECT doc_id, {words_sql()} AS w FROM documents),
    st AS (
      SELECT doc_id, w,
             list_concat([1], list_filter(
               generate_series(2, len(w)),
               i -> {md5_int_sql("w[i - 1] || ' ' || w[i]")} % {_CDC_DIV} = 0))
               AS starts
      FROM w WHERE len(w) >= 2
    ),
    ch AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(starts)),
               j -> array_to_string(
                      w[starts[j] :
                        list_concat(starts[2:], [len(w) + 1])[j] - 1], ' ')
             )) AS chunk
      FROM st
    ),
    cnt AS (
      SELECT doc_id, count(*) OVER (PARTITION BY chunk) AS freq FROM ch
    )
    SELECT doc_id, count(*) AS n_chunks,
           CAST(sum(CASE WHEN freq >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           ROUND(sum(CASE WHEN freq >= 2 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS dup_ratio
    FROM cnt GROUP BY doc_id ORDER BY doc_id
    """,
    category="dedup",
)
def d14(spark: SparkSession, sf: str) -> DataFrame:
    """Content-defined chunking (CDC) dedup: chunk boundaries fall where a
    rolling 2-word window hash ≡ 0 (mod {div}), so boundaries are a pure
    function of LOCAL content — inserting or deleting words near the
    start of a document shifts d09's fixed-width chunk grid for the whole
    rest of the document, but CDC boundaries re-synchronize at the next
    hash-selected window and every later chunk fingerprint survives.
    That insertion stability is why storage dedup (LBFS/Venti lineage)
    and incremental-crawl corpus dedup chunk this way.

    Same output contract and plan shape as d09 (explode → ONE shuffle on
    chunk text for the corpus-wide frequency window → per-doc re-agg);
    the boundary selection itself is per-document array logic inside the
    scan projection — no extra shuffle. The md5-derived window hash makes
    DuckDB replay the exact boundary set, so chunking, frequencies, and
    ratios all hash-match.
    """
    d = widen(load_table(spark, sf, "documents")).select(
        "doc_id", words().alias("w")
    )
    chunks = (
        d.filter(F.size("w") >= 2)
        .withColumn("cdc_starts", _cdc_starts())
        .withColumn("cdc_ends", F.expr(_CDC_ENDS))
        .select("doc_id", F.explode(F.expr(_CDC_CHUNKS)).alias("chunk"))
    )
    with_freq = chunks.withColumn(
        "freq", F.count(F.lit(1)).over(W.partitionBy("chunk"))
    )
    return (
        with_freq.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum((F.col("freq") >= 2).cast("long")).alias("n_dup_chunks"),
            F.round(
                F.sum((F.col("freq") >= 2).cast("long"))
                / F.count("*").cast("double"),
                4,
            ).alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )


d14.__doc__ = d14.__doc__.format(div=_CDC_DIV)


# ------------------------------------------------- containment (overlap join)

_CONT_TAU = 0.5
_CONT_MAX_DF = 128  # df cap: a shingle in more docs is boilerplate by declaration


@query(
    "d15_containment_pairs",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    kept AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING count(*) BETWEEN 2 AND {_CONT_MAX_DF}
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM sh a
      JOIN kept k ON a.shingle = k.shingle
      JOIN sh b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b, p.n_shared,
           ROUND(p.n_shared / CAST(least(sa.n, sb.n) AS DOUBLE), 4)
             AS containment
    FROM pairs p
    JOIN sz sa ON sa.doc_id = p.doc_a
    JOIN sz sb ON sb.doc_id = p.doc_b
    WHERE p.n_shared / CAST(least(sa.n, sb.n) AS DOUBLE) >= {_CONT_TAU}
    ORDER BY doc_a, doc_b
    """,
    category="dedup",
)
def d15(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric containment pairs via an inverted-index OVERLAP join —
    the measure quote/boilerplate detection needs where Jaccard (d05,
    d11) fails: a short document fully quoted inside a long one has low
    Jaccard but containment |A∩B| / min(|A|,|B|) ≈ 1.

    The pair-generation pattern here is the one the rest of the family
    doesn't exercise: the shingle→docs inverted index ITSELF is the
    block key (no signatures, no length buckets) — pairs exist only for
    docs sharing a concrete shingle, shared-shingle counts come from one
    hash-agg on (doc_a, doc_b), and a document-frequency cap
    ({max_df}, the ``lsh_candidate_pairs`` degenerate-bucket guard
    applied to raw shingles) BOUNDS the quadratic term: per kept
    shingle at most C({max_df},2) ≈ 8k pairs, so total pair volume is
    linear in distinct informative shingles. The cap is semantic, not
    just a perf guard — a shingle ubiquitous across >{max_df} documents
    is boilerplate by declaration and carries no containment evidence;
    the oracle applies the identical HAVING bound, so the declared
    measure ("containment over informative shingles") stays
    hash-checked. Set sizes join back broadcast-ably (one row/doc).
    """
    sh = _shingled(spark, sf)
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    pairs = (
        lsh_candidate_pairs(sh, "shingle", max_bucket=_CONT_MAX_DF)
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
    cont = F.col("n_shared") / F.least("na", "nb").cast("double")
    return (
        pairs.join(sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .filter(cont >= _CONT_TAU)
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(cont, 4).alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


d15.__doc__ = d15.__doc__.format(max_df=_CONT_MAX_DF)
