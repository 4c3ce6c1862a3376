"""Every entry that tokenizes ``documents.text`` matches its DuckDB oracle on
short documents: empty, one word (bare and padded), and each n-gram width's
boundary (a document with exactly n words has one n-gram, one with fewer
has none). The sf fixtures hold only long documents, so they never reach
these branches."""

from __future__ import annotations

import duckdb
import pytest

from final_project_big_data_spark.queries import all_specs

_TEXTS = {
    1: "",
    2: "solo",
    3: "  padded  ",
    4: "the fast",
    5: "hash join order",
    6: "alpha beta gamma delta",
    7: "alpha beta gamma delta",  # exact duplicate of 6
    50: "beta gamma delta eta",  # t10's benchmark slice (doc_id % 50 == 0)
    8: "alpha beta gamma delta eta",
}

_TOKENIZING = [
    "t01_token_count",
    "t02_lang_id",
    "t03_quality_score",
    "t04_fingerprint",
    "t05_tfidf",
    "t06_bigram_logprob",
    "t07_repetition_score",
    "t09_top_bigrams",
    "t10_contamination",
    "t11_sequence_packing",
    "t12_chunk_windows",
    "p01_corpus_curation",
    "d01_exact_dedup",
    "d02_minhash_signatures",
    "d03_minhash_lsh_pairs",
    "d04_simhash",
    "d05_ngram_jaccard_pairs",
    "d09_chunk_dedup",
    "d11_prefix_filter_jaccard",
    "d12_edit_distance_pairs",
    "d14_cdc_chunks",
    "d15_containment_pairs",
]


@pytest.fixture(scope="module")
def short_docs(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("short_docs"))
    rows = [
        (i, t, "en" if i % 2 else "de", f"src{i % 3}", len(t))
        for i, t in _TEXTS.items()
    ]
    (
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        .coalesce(1)
        .write.parquet(f"{out}/documents.parquet")
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{out}/documents.parquet/*.parquet'"
    )
    yield out, con
    con.close()


@pytest.mark.parametrize("name", _TOKENIZING)
def test_short_documents_match_oracle(spark, short_docs, name):
    from tests.oracle import compare

    sf, con = short_docs
    spec = all_specs()[name]
    report = compare(spec.builder(spark, sf), con, spec.oracle)
    assert report["ok"], report
