"""The driver registry's contract: which queries are oracle-gated, and the
order the oracle check walks them in."""

import __spark_entry__ as entry

# Queries no driver run had verified green, in verification-priority order:
# they lead queries() so the time-budgeted oracle check reaches them first.
NEVER_DRIVER_GREEN = [
    "cdc_stmt_lineage",
    "ann_index_search",
    "text_classify_quality",
    "dedup_exact_substr",
    "cdc_table_stats",
    "train_scrub_substr",
    "text_ngram_ppl",
    "corpus_report",
    "multimodal_decode",
    "media_jpeg_roundtrip",
    "media_container_meta",
]


def test_every_gated_query_has_an_oracle_and_no_oracle_is_orphaned():
    # dedup_minhash_lsh_fast is the one ungated query: xxhash64 is
    # engine-specific, so it has no SQL oracle (see its docstring)
    assert set(entry.oracle_sql()) == set(entry.queries()) - {"dedup_minhash_lsh_fast"}


def test_never_driver_green_queries_come_first():
    assert list(entry.queries())[: len(NEVER_DRIVER_GREEN)] == NEVER_DRIVER_GREEN
