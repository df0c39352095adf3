"""Tag-union merged queries for the driver's correctness gate.

The driver evaluates at most ~50 ``queries()`` entries per round, while
the engine implements 129 query/oracle units. To give every operator a
driver-verified oracle row, closely related units are folded into 25
tag-union queries (104 parts); the other 25 registry entries stand
alone.

One mechanism builds every merge:

- **Builder contract.** A merge is built by ``fn(spark, sf_dir)``
  returning ``[(tag, DataFrame)]`` in the merge's declared tag order.
  The default builder calls each part query unchanged. A custom builder
  (``builders`` in :func:`build_merged`) may share intermediates between
  parts, but must yield the same tags with rows identical to the
  standalone parts. A fused frame whose rows already carry their own
  ``part`` column is listed once under the tuple of the tags it covers.
  The declared tags are checked on every call, for every builder.
- **By-name padding.** Each frame is tagged with ``'<tag>' AS part`` and
  the frames are unioned with ``unionByName(allowMissingColumns=True)``;
  the DuckDB oracle is ``SELECT '<tag>' AS part, * FROM (<part oracle>)``
  joined with ``UNION ALL BY NAME``. Both engines fill a column a part
  lacks with NULLs of the type the other parts give it and order
  columns by first appearance, so no schema is kept by hand.
- **Side-effect rule.** The default builder constructs a merge's parts
  concurrently (``queries_shared.build_concurrently``, pool width from
  the effective core count) unless one of them is marked
  ``@session_side_effect`` where it is defined; then all parts build in
  order.

Rows from different parts can never collide (the tag differs), so
value-hash equality on the merged result still verifies each part
independently — the merge loses no checking power, only row count in
the registry. Custom builders are checked against the SAME oracle as
the default construction.

This module only provides the mechanism and the merge table; it is
instantiated from :mod:`pygrametl_spark.queries` (which owns the full
per-part dicts) to avoid circular imports.
"""

from __future__ import annotations

from functools import partial, reduce

from pygrametl_spark.queries_shared import build_concurrently

__all__ = ["build_merged", "MERGES"]

# merged name -> parts [(tag, part query name)]
MERGES: dict[str, list[tuple[str, str]]] = {
    "project_map_filter": [
        ("project", "project_rename"),
        ("filter", "filtering_source"),
        ("map", "mapping_source"),
    ],
    "joining_sources": [
        ("hash", "hash_joining_source"),
        ("merge", "merge_joining_source"),
        ("salted", "salted_join"),
    ],
    "sources_roundtrip": [
        ("csv", "csv_source_roundtrip"),
        ("jsonl", "jsonl_source"),
        ("pandas", "pandas_source"),
        ("transforming", "transforming_source"),
        ("foreach", "dynamic_foreach_source"),
        ("roundrobin", "round_robin_source"),
        ("union", "union_source"),
    ],
    "steps_suite": [
        ("valuemap", "valuemapping_step"),
        ("conditional", "conditional_step"),
        ("chain", "steps_chain"),
    ],
    "dim_getby": [("bykey", "dim_getbykey"), ("byvals", "dim_getbyvals")],
    "snowflake_lookup_ensure": [
        ("lookup", "snowflake_lookuprow"),
        ("ensure", "snowflake_ensure"),
    ],
    # SQL surface: the staged-source transform (TPC-H Q5 through
    # SQLTransformingSource) + Engine.sql over registered warehouse tables
    "sql_transforming": [("q5", "sql_transforming"), ("enginesql", "engine_sql")],
    "scd2_type1_overrides": [
        ("allversions", "scd2_type1_all_versions"),
        ("latestonly", "scd2_type1_latest_only"),
    ],
    "scd2_build_close": [
        ("build", "scd2_build"),
        ("close", "scd_closecurrent"),
        ("datechange", "scd2_datechange"),
    ],
    "fact_suite": [
        ("ensure", "fact_ensure"),
        ("lookup", "fact_lookup"),
        ("bulk", "bulk_fact_roundtrip"),
    ],
    "rollup_cube_agg": [("rollup", "rollup_agg"), ("cube", "cube_agg")],
    "advanced_aggs": [("countdistinct", "countdistinct_agg"), ("udaf", "custom_udaf")],
    "text_analysis": [
        ("quality", "text_quality"),
        ("lang", "lang_id"),
        ("fingerprint", "doc_fingerprint"),
        ("repetition", "repetition_stats"),
        ("entropy", "char_entropy"),
        ("tfidf", "tfidf_topk"),
        ("winnow", "winnow_fp"),
        ("lmscore", "lm_score"),
        ("gopher", "gopher_rules"),
        ("textnorm", "normalize_text"),
        ("linededup", "line_dedup"),
    ],
    "multimodal_pipeline": [
        ("decode", "multimodal_decode"),
        ("realdecode", "multimodal_realdecode"),
        ("resize", "multimodal_resize"),
        ("frames", "multimodal_frames"),
        ("features", "multimodal_features"),
    ],
    "dedup_exact": [
        ("batch", "dedup_exact"),
        ("incremental", "dedup_incremental"),
        ("stream", "dedup_streaming"),
        ("urlstream", "url_dedup_stream"),
        ("minhashstream", "dedup_minhash_stream"),
        ("watermark", "events_dedup_watermark"),
    ],
    "token_count": [
        ("counts", "token_count"),
        ("bpe", "bpe_token_count"),
        ("report", "corpus_report"),
        ("chunks", "doc_chunks"),
        ("chunkdedup", "chunk_dedup"),
        ("vocab", "vocab_coverage"),
    ],
    "ann_lsh_neardup": [
        ("buckets", "ann_lsh_buckets"),
        ("neardup", "ann_lsh_neardup"),
        ("kmeans", "ann_kmeans"),
        ("sq8", "ann_sq8_topk"),
        ("pq", "ann_pq_codes"),
        ("rerank", "ann_pq_rerank"),
        ("multiprobe", "ann_lsh_mp_topk"),
        ("semdedup", "ann_semdedup"),
    ],
    "topk": [("global", "topk"), ("pergroup", "topk_pergroup")],
    # same registered name as the individual persisted-IVF query it
    # replaces: adds the streamed-then-COMPACTED IVF-PQ lifecycle part
    # without spending a registry slot
    "ann_ivf_index": [("index", "ann_ivf_index"), ("pqcompact", "ann_ivfpq_compacted")],
    "helpers_suite": [("scalar", "scalar_helpers"), ("datespan", "datespan")],
    # same registered name as the individual scd as-of query it replaces:
    # adds the generic asof_join part without spending a registry slot
    "scd_lookupasof": [
        ("scd", "scd_lookupasof"),
        ("generic", "asof_generic"),
        ("range", "range_join_events"),
    ],
    # same registered name as the individual jaccard query it replaces:
    # the merge adds the containment part without spending a registry slot
    "dedup_ngram_jaccard": [
        ("jaccard", "dedup_ngram_jaccard"),
        ("containment", "ngram_containment"),
        ("exactsubstr", "exact_substring"),
    ],
    "curation_guard": [
        ("pii", "pii_scan"),
        ("decontam", "decontaminate"),
        ("lineclean", "line_clean"),
        ("classifier", "hashed_classifier"),
        ("bloomdecontam", "bloom_decontam"),
        ("urlnorm", "url_normalize"),
        ("urldedup", "url_dedup"),
        ("hostblock", "host_blocklist"),
        ("hostshares", "host_shares"),
        ("dsir", "dsir_importance"),
    ],
    "events_stream_windows": [
        ("windows", "events_stream_windows"),
        ("enriched", "events_stream_enriched"),
        ("ssjoin", "events_stream_ssjoin"),
    ],
    "sampling_suite": [
        ("split", "dataset_split"),
        ("clustersplit", "cluster_split"),
        ("stratified", "stratified_sample"),
        ("pack", "pack_tokens"),
        ("mixture", "mixture_sample"),
        ("domaincap", "domain_cap"),
        ("shards", "shuffle_shards"),
        ("survivors", "cluster_survivors"),
        ("quantile", "quantile_buckets"),
    ],
}


def _default_builder(parts):
    """Builder that runs each ``(tag, part_fn)`` unchanged: concurrently,
    unless a part declares a session side effect."""
    sequential = any(getattr(fn, "session_side_effect", False) for _, fn in parts)

    def build(spark, sf_dir):
        tasks = [partial(fn, spark, sf_dir) for _, fn in parts]
        dfs = [t() for t in tasks] if sequential else build_concurrently(spark, tasks)
        return [(tag, df) for (tag, _), df in zip(parts, dfs)]

    return build


def _merged_query(builder, tags):
    """Merged Spark query: check the builder's tags, tag each frame,
    union by name."""

    def q(spark, sf_dir):
        got, frames = [], []
        for tag, df in builder(spark, sf_dir):
            if isinstance(tag, tuple):  # fused frame: rows carry `part`
                got.extend(tag)
                frames.append(df)
            else:
                got.append(tag)
                frames.append(df.selectExpr(f"'{tag}' AS part", "*"))
        if got != tags:
            raise ValueError(f"merged builder yielded tags {got}, expected {tags}")
        return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)

    return q


def _merged_oracle(parts):
    """Merged DuckDB oracle: the part oracles, tagged, UNION ALL BY NAME."""
    return "\nUNION ALL BY NAME\n".join(
        f"SELECT '{tag}' AS part, * FROM (\n{sql}\n)" for tag, sql in parts
    )


def build_merged(all_queries, all_oracles, builders):
    """Instantiate every merge in :data:`MERGES` against the full per-part
    query/oracle dicts. ``builders`` maps a merge name to its custom
    builder; every other merge gets the default builder. Returns
    ``(merged_queries, merged_oracles)``."""
    merged_q, merged_o = {}, {}
    for name, parts in MERGES.items():
        builder = builders.get(name) or _default_builder(
            [(tag, all_queries[p]) for tag, p in parts]
        )
        merged_q[name] = _merged_query(builder, [tag for tag, _ in parts])
        merged_o[name] = _merged_oracle([(tag, all_oracles[p]) for tag, p in parts])
    return merged_q, merged_o
