"""Embedding-family oracle parity on a NULL-injected fixture.

The driver regenerates fixtures between rounds (ADVICE r5, medium): if a
regeneration ships NULL / empty / all-zero embedding vectors, every
embedding query must still MATCH its DuckDB oracle — not crash and not
silently diverge. This fixture caught three real defects when first run
(r6): ANSI DIVIDE_BY_ZERO on zero-norm vectors in the centroid-score /
cosine-rank / pair-cosine divisions (fixed with try_divide — DuckDB's
x/0 semantics), and a dominant-label tie-break where Spark's NULLS FIRST
beat DuckDB's NULLS LAST (fixed with asc_nulls_last).
"""

from __future__ import annotations

import shutil

import duckdb
import pytest

from tools.check_oracle import value_hash
from tower_parse_spark.queries import registry
from tower_parse_spark.session import TABLES, table_path

SRC = "/root/testdata/sf0.001"

EMBEDDING_QUERIES = [
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_ivfpq_topk",
    "dedup_embedding_cosine",
    "embedding_cluster_stats",
    "semantic_dedup",  # r7: NULL/empty/zero vectors kept but never paired
    "decontaminate_semantic",  # late-r7: degenerate vectors get verdict
    # rows (left join) but can never match (nv > 0 guard on both sides)
]


@pytest.fixture(scope="module")
def null_sf_dir(tmp_path_factory):
    """sf0.001 with degenerate embedding rows appended: NULL vector,
    empty vector, all-zero vector, a NULL vector at a PROBE id
    (vec_id % 100 = 0), and a NULL label."""
    dst = tmp_path_factory.mktemp("sf_nulls")
    for t in TABLES:
        if t != "embeddings":
            shutil.copy(table_path(SRC, t), table_path(str(dst), t))
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT vec_id, embedding, label
          FROM read_parquet('{table_path(SRC, "embeddings")}')
          UNION ALL BY NAME
          SELECT * FROM (VALUES
            (600, NULL, 3),
            (601, [], 4),
            (602, list_transform(range(64), i -> 0.0), 6),
            (700, NULL, 5),
            (603, NULL, NULL)
          ) AS t(vec_id, embedding, label)
        ) TO '{table_path(str(dst), "embeddings")}' (FORMAT parquet)
        """
    )
    return str(dst)


@pytest.mark.slow
@pytest.mark.parametrize("name", EMBEDDING_QUERIES)
def test_embedding_query_parity_with_degenerate_vectors(
    spark, null_sf_dir, name
):
    reg = registry()
    sdf = reg[name].fn(spark, null_sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{table_path(null_sf_dir, t)}')"
        )
    res = con.execute(reg[name].oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert len(srows) == len(drows)
    assert sorted(scols) == sorted(dcols)
    assert value_hash(scols, srows) == value_hash(dcols, drows)


DOCS_QUERIES = [
    "dedup_exact",
    "dedup_passages",
    "boilerplate_removal",
    "split_leakage_check",
    "incremental_exact_dedup",
    "incremental_minhash_dedup",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "source_overlap_minhash",
    "text_quality",
    "text_langid",
    "text_token_stats",
    "text_fingerprint",
    "text_repetition",
    "text_tfidf_topterms",
    "quality_filter_funnel",
    "decontaminate_ngram",
    "decontaminate_fuzzy",
    "text_pii_redact",
    "doc_chunking",
    "sequence_packing",
    "training_data_pipeline",
    # r7: NULL-source URLs / NULL payload hashes / NULL-text stream rows
    "domain_curation",
    "multimodal_near_dup",
    "streaming_minhash_dedup",
    # late-r7 filtering family: NULL/empty text must render as an empty
    # line array (verdict 'words', zero kept lines) and a NULL source
    # must form its own reweight group on both engines
    "gopher_quality",
    "line_cleaning",
    "domain_reweight",
    # NULL/short text yields zero bigrams -> 'empty' bucket verdict row
    # (never silently dropped), and NULL ref text trains a smaller LM
    "perplexity_filter",
    # r8 classifier: NULL-text docs score on the prior alone (verdict
    # row kept, n_tokens 0) and NULL rows in the labeled slices must
    # not poison training on either engine
    "quality_classifier",
    # r8 subword accounting: NULL/empty text keeps an all-zero row via
    # explode_outer; the distinct-word fold never sees a NULL token
    "token_count_bpe",
]


@pytest.fixture(scope="module")
def null_docs_dir(tmp_path_factory):
    """sf0.001 with degenerate document rows appended: NULL text, empty
    text, whitespace-only text + NULL lang, NULL source, all-NULL row.

    First run (r6) caught: NULL-text fingerprints folding to 0 instead
    of NULL in the oracles, and shingle-less docs entering LSH banding /
    prefix blocking on Spark only (concat_ws skips NULLs, the oracle's
    || propagates them) — now excluded on BOTH engines, which also kills
    the quadratic empty-doc bucket a web corpus would hit."""
    dst = tmp_path_factory.mktemp("sf_nulldocs")
    for t in TABLES:
        if t != "documents":
            shutil.copy(table_path(SRC, t), table_path(str(dst), t))
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT doc_id, text, lang, source, n_chars
          FROM read_parquet('{table_path(SRC, "documents")}')
          UNION ALL BY NAME
          SELECT * FROM (VALUES
            (900, NULL, 'en', 'srcx', NULL),
            (901, '', 'en', 'srcx', 0),
            (902, '   ', NULL, 'srcx', 3),
            (903, 'one two three', 'en', NULL, 13),
            (904, NULL, NULL, NULL, NULL)
          ) AS t(doc_id, text, lang, source, n_chars)
        ) TO '{table_path(str(dst), "documents")}' (FORMAT parquet)
        """
    )
    return str(dst)


@pytest.mark.slow
@pytest.mark.parametrize("name", DOCS_QUERIES)
def test_docs_query_parity_with_degenerate_text(spark, null_docs_dir, name):
    reg = registry()
    sdf = reg[name].fn(spark, null_docs_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{table_path(null_docs_dir, t)}')"
        )
    res = con.execute(reg[name].oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert len(srows) == len(drows)
    assert sorted(scols) == sorted(dcols)
    assert value_hash(scols, srows) == value_hash(dcols, drows)


EVENTS_QUERIES = [
    "events_tumbling_window",
    "events_sliding_window",
    "events_sessionize",
    "events_session_window",
    "events_time_rollup",
    "events_value_distribution",
    "events_map_functions",
    "events_json_props",
    "events_asof_order",
    "events_order_range_join",
    "ingest_extract_probe",
    "ingest_sentinel_stats",
    "ingest_multiformat",
    "ingest_malformed_routing",
    "ingest_pack_assign",
    "ingest_pack_scalable",
    "ingest_echo",
]


@pytest.fixture(scope="module")
def null_events_dir(tmp_path_factory):
    """sf0.001 with degenerate event rows appended: NULL ts, an all-NULL
    row (keeps ts), malformed JSON props, empty event_type + empty JSON.

    First run (r6) caught: ANSI crashes (NULL map key in the event-type
    histogram, divide-by-zero in the n=1 stddev group, ANSI cast killing
    the watermark stream on a "null"-formatted spool line, a Python
    TypeError sorting a NULL bucket in scalable packs) and four
    NULL-ordering/NULL-group asymmetries between Spark and DuckDB —
    each now pinned with an explicit both-engine rule."""
    dst = tmp_path_factory.mktemp("sf_nullevents")
    for t in TABLES:
        if t != "events":
            shutil.copy(table_path(SRC, t), table_path(str(dst), t))
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT event_id, ts, user_id, event_type, value, props
          FROM read_parquet('{table_path(SRC, "events")}')
          UNION ALL BY NAME
          SELECT * FROM (VALUES
            (990001, NULL, 5, 'error', 1.0, '{{"k": 1}}'),
            (990002, TIMESTAMP '2024-01-02 00:00:00',
             NULL, NULL, NULL, NULL),
            (990003, TIMESTAMP '2024-01-03 00:00:00', 6, 'click', 2.5,
             'not json'),
            (990004, TIMESTAMP '2024-01-04 00:00:00', 7, '', 0.0, '{{}}')
          ) AS t(event_id, ts, user_id, event_type, value, props)
        ) TO '{table_path(str(dst), "events")}' (FORMAT parquet)
        """
    )
    return str(dst)


@pytest.mark.slow
@pytest.mark.parametrize("name", EVENTS_QUERIES)
def test_events_query_parity_with_degenerate_rows(
    spark, null_events_dir, name
):
    reg = registry()
    sdf = reg[name].fn(spark, null_events_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{table_path(null_events_dir, t)}')"
        )
    res = con.execute(reg[name].oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert len(srows) == len(drows)
    assert sorted(scols) == sorted(dcols)
    assert value_hash(scols, srows) == value_hash(dcols, drows)


RELATIONAL_QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_forecast_revenue", "q9_product_profit", "q11_important_parts",
    "q16_supplier_counts", "q17_small_quantity_revenue",
    "q21_blame_suppliers", "top_customers_per_nation",
    "running_revenue_by_nation", "revenue_rollup", "revenue_cube",
    "order_priority_pivot", "wealthy_inactive_customers",
    "segment_set_ops", "priority_ship_stats", "order_gaps_quartiles",
    "customers_without_urgent_orders", "part_supplier_overlap",
    "orders_with_returns", "customer_order_distribution",
    "min_cost_parts", "top_return_customers", "promo_revenue_pct",
    "disjunctive_filter_revenue", "nation_volume_shipping",
    "market_share_by_year", "big_basket_orders", "top_revenue_supplier",
    "customer_order_arrays", "orders_date_functions",
]


@pytest.fixture(scope="module")
def null_rel_dir(tmp_path_factory):
    """sf0.001 with degenerate TPC-H rows: an all-NULL-fields order /
    lineitem / customer plus zero-amount rows with NULL dimensions.
    First run (r6): 31/32 already held (plain SQL semantics are
    NULL-safe by construction); the one divergence was collect_list
    (skips NULLs) vs DuckDB list() (keeps them) in
    customer_order_arrays, mirrored with a FILTER clause."""
    dst = tmp_path_factory.mktemp("sf_nullrel")
    skip = {"orders", "lineitem", "customer"}
    for t in TABLES:
        if t not in skip:
            shutil.copy(table_path(SRC, t), table_path(str(dst), t))
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{table_path(SRC, "orders")}')
          UNION ALL BY NAME
          SELECT * FROM (VALUES
            (8000001, NULL, 'O', NULL, NULL, '1-URGENT'),
            (8000002, 1, NULL, 0.0, DATE '1995-06-01', NULL)
          ) AS t(o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                 o_orderdate, o_orderpriority)
        ) TO '{table_path(str(dst), "orders")}' (FORMAT parquet)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{table_path(SRC, "lineitem")}')
          UNION ALL BY NAME
          SELECT * FROM (VALUES
            (8000001, NULL, NULL, 1, NULL, NULL, NULL, NULL, NULL, NULL,
             NULL),
            (8000002, 1, 1, 1, 0.0, 0.0, 0.0, 0.0, 'N', 'O',
             DATE '1995-06-15')
          ) AS t(l_orderkey, l_partkey, l_suppkey, l_linenumber,
                 l_quantity, l_extendedprice, l_discount, l_tax,
                 l_returnflag, l_linestatus, l_shipdate)
        ) TO '{table_path(str(dst), "lineitem")}' (FORMAT parquet)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{table_path(SRC, "customer")}')
          UNION ALL BY NAME
          SELECT * FROM (VALUES
            (8000001, NULL, NULL, NULL, NULL),
            (8000002, 'Customer#NULLSEG', 1, 0.0, NULL)
          ) AS t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
        ) TO '{table_path(str(dst), "customer")}' (FORMAT parquet)
        """
    )
    return str(dst)


@pytest.mark.slow
@pytest.mark.parametrize("name", RELATIONAL_QUERIES)
def test_relational_query_parity_with_degenerate_rows(
    spark, null_rel_dir, name
):
    reg = registry()
    sdf = reg[name].fn(spark, null_rel_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{table_path(null_rel_dir, t)}')"
        )
    res = con.execute(reg[name].oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert len(srows) == len(drows)
    assert sorted(scols) == sorted(dcols)
    assert value_hash(scols, srows) == value_hash(dcols, drows)
