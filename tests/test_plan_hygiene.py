"""Physical-plan regression guards: the properties BENCH.md claims
about the 100 TB shapes, asserted on the actual executed plans so a
refactor can't silently regress them (SURVEY.md §4.2).

Kept deliberately robust to AQE/stats variation: assert the invariant
(no cartesian product, no window sort, pure map has no exchange), not
exact operator counts.
"""

import re

import pyspark.sql.functions as F

from ocr_service_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    return QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_jaccard_self_join_is_equi_not_cartesian(spark):
    plan = _plan(spark, "jaccard_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunk_dedup_no_cartesian(spark):
    plan = _plan(spark, "chunk_dedup")
    assert "CartesianProduct" not in plan


def test_chunk_dedup_scans_the_text_once(spark):
    # chunk occurrences are a window count over the exploded hashes; a
    # join back to a grouped count of the same rows scanned and
    # tokenized the text twice
    plan = _plan(spark, "chunk_dedup")
    assert plan.count("FileScan parquet") == 1, plan


def test_dedup_latest_has_no_window_or_global_sort(spark):
    # one max-of-struct aggregation: a Window or top-k sort here would mean
    # the operator regressed to the rank-per-key shape that single-sorts
    # every hot key's rows through one reducer
    plan = _plan(spark, "recrawl_dedup")
    assert "Window" not in plan
    assert "TakeOrderedAndProject" not in plan


def test_minhash_signatures_is_pure_map(spark):
    # per-row fold (minhash_fold): signature generation must never
    # shuffle — the r1 explode+groupBy shape paid an exchange of every
    # (doc, shingle) row
    plan = _plan(spark, "minhash_signatures")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_pii_scrub_is_pure_map(spark):
    plan = _plan(spark, "pii_scrub")
    assert "Exchange" not in plan, "redaction pass must not shuffle"
    assert "EvalPython" not in plan, "redaction must stay JVM-side"


def test_no_per_row_python_anywhere_in_headliners(spark):
    for name in ("extract_roundtrip", "minhash_signatures", "simhash",
                 "lang_profile", "field_validation", "chunk_dedup"):
        assert "BatchEvalPython" not in _plan(spark, name), name


def test_url_filter_is_pure_map(spark):
    plan = _plan(spark, "url_filter")
    assert "Exchange" not in plan, "URL normalization must not shuffle"
    assert "EvalPython" not in plan, "URL normalization must stay JVM-side"


def test_decontaminate_probes_via_broadcast(spark):
    # the eval n-gram set is broadcast; the corpus side must never be
    # shuffled for the probe join itself
    plan = _plan(spark, "decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_corpus_build_anti_joins_broadcast_no_cartesian(spark):
    # survivors path: one scan + two broadcast LEFT ANTI probes against
    # tiny id sets; a SortMergeJoin or cartesian here means the corpus
    # got shuffled against its own derived columns
    plan = _plan(spark, "corpus_build")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_incremental_dedup_probe_is_broadcast(spark):
    # the new-batch band index is broadcast into the corpus band scan,
    # so the probe join adds no exchange over the corpus side; an SMJ
    # here means the whole corpus got sorted for a 20%-batch probe
    plan = _plan(spark, "incremental_dedup")
    assert plan.count("BroadcastHashJoin") >= 2  # probe + left-join of hits
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sequence_pack_single_exchange(spark):
    # md5 shard (pure map) + ONE per-shard window cumsum: exactly one
    # Exchange; a second would mean packing regressed to a global sort
    plan = _plan(spark, "sequence_pack")
    assert plan.count("Exchange") == 1, plan
    assert "rangepartitioning" not in plan.lower()


def test_source_mix_probe_is_broadcast(spark):
    # measure agg → broadcast rates → pure-map keep: the per-doc probe
    # join must be broadcast, never a sort-merge of the corpus
    plan = _plan(spark, "source_mix")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_area_reextract_no_shuffle(spark):
    # render → extract → area re-parse is a straight-line per-doc map
    plan = _plan(spark, "area_reextract")
    assert "Exchange" not in plan, plan


def test_host_cap_partial_group_limit_pushed(spark):
    # the rank filter must stay fused to its window so Catalyst's
    # rank-limit pushdown (SPARK-37099) plants a PARTIAL
    # WindowGroupLimit before the exchange — without it mega.example's
    # 30% of the corpus funnels through one window partition
    plan = _plan(spark, "host_cap")
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan
    assert "CartesianProduct" not in plan


def test_link_graph_single_arrow_node_one_shuffle(spark):
    # render+extract is one pinned ArrowEvalPython projection; the only
    # shuffle is the (src,dst) edge agg. A second Arrow node means the
    # asNondeterministic pin regressed (corpus parsed twice).
    plan = _plan(spark, "link_graph")
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_host_pagerank_no_python_no_cartesian(spark):
    # three unrolled integer sweeps: keyed joins + map-combinable aggs
    # only — per-row Python or a cartesian means the iteration shape
    # regressed (the 1-row host-count crossJoin is broadcast by design)
    plan = _plan(spark, "host_pagerank")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_incremental_pagerank_persisted_side_never_shuffle_joined(spark):
    # the incremental sweep's contract (VERDICT r4 item 6): the
    # persisted edge list is probed by the batch via BROADCAST
    # semi/anti/hash joins only — a SortMergeJoin or ShuffledHashJoin
    # anywhere means the full graph got re-shuffled for a join, which
    # is exactly what the delta decomposition exists to avoid. The
    # only exchanges are map-combinable aggs (degree/mass/host sets).
    plan = _plan(spark, "incremental_pagerank")
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_token_tier_tokenizes_each_scanned_row_once(spark):
    # a filter on a projected token array (size(toks) >= k) is pushed
    # below the projection and re-runs the normalize-and-split regex
    # there; the row guards ride inside a generator instead
    # (queries._rows_where), so each scan of the text feeds one
    # tokenizing Project and nothing else. incremental_dedup's
    # batch/corpus sides scan the text twice;
    # minhash_lsh_pairs and dup_clusters read minhash_signatures' plan
    # through a localCheckpoint of the signature table
    from ocr_service_spark.functions.textstats import WS_CLASS

    tok = re.compile(r"CASE WHEN \(trim\(regexp_replace\(text#\d+, "
                     + re.escape(WS_CLASS))
    for name in ("minhash_signatures", "chunk_dedup", "boilerplate_strip",
                 "ngram_repetition", "incremental_dedup"):
        plan = _plan(spark, name)
        n_scans = len(re.findall(r"FileScan parquet \[[^\]]*\btext#", plan))
        holders = [line for line in plan.splitlines() if tok.search(line)]
        assert len(holders) == n_scans >= 1, (name, holders)
        assert all(" Project [" in line for line in holders), (name, holders)


def test_process_documents_scans_each_pattern_once(spark):
    # critical_fields and important_data read one projected _cands
    # struct: every field and surname pattern is one
    # regexp_extract_all in the plan (7 + 3), inn/snils are not
    # rescanned; each field's validity filter reads it once, through
    # the projected _valids struct; the fused extract+correct UDF is
    # still one node; and the html payload crosses one exchange, the
    # dedup's (a salted two-phase dedup exchanged it twice)
    from ocr_service_spark.corpus import corpus_df
    from ocr_service_spark.operators.validate import FIELD_EXPRS, SCANS
    from ocr_service_spark.pipeline import process_documents

    plan = (process_documents(corpus_df(spark, 20, partitions=2))
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("regexp_extract_all(") == len(SCANS) == 10, plan
    for pattern in SCANS.values():
        assert plan.count(f", {pattern}, 0)") == 1, pattern
    for name in FIELD_EXPRS:
        assert len(re.findall(rf"filter\(_cands#\d+\.{name}, ", plan)) == 1, name
    assert plan.count("ArrowEvalPython") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_process_documents_builds_in_few_jvm_round_trips(spark):
    # the validation, quality and dedup rules are SQL text, parsed in a
    # few calls: building the plan must not send a py4j command per
    # Column node (3,862 commands when every rule was a Column tree of
    # HOF lambdas and a withColumn chain, 607 while dedup_latest still
    # built its salted two-phase aggregate from Columns)
    from ocr_service_spark.corpus import corpus_df
    from ocr_service_spark.pipeline import process_documents

    docs = corpus_df(spark, 20, partitions=2)
    process_documents(docs)  # warm: first-call imports and class lookups
    client = spark.sparkContext._gateway._gateway_client
    send, counts = client.send_command, []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):  # py4j's garbage-collection notices
            counts[-1] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        for _ in range(2):
            counts.append(0)
            process_documents(docs)
    finally:
        del client.send_command
    assert counts[0] == counts[1] <= 350, counts


def test_process_documents_does_not_scan_unread_text(spark, tmp_path):
    # the input's plain `text` column is read by nothing after the dedup,
    # so the scan must not read it (it used to ride through the dedup
    # exchange and sort inside the max-of-struct record)
    from ocr_service_spark.corpus import corpus_df
    from ocr_service_spark.pipeline import process_documents

    corpus_df(spark, 20, partitions=2).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    assert "text" in docs.columns
    plan = process_documents(docs)._jdf.queryExecution().executedPlan().toString()
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(schemas) == 1, plan
    assert sorted(f.split(":")[0] for f in schemas[0].split(",")) == \
        ["doc_id", "html", "lang", "url", "warc_ts"], schemas
