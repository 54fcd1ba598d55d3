"""Physical-plan property tests: the 100 TB checklist, asserted.

Each test pins a plan property that matters at scale: filter pushdown to
the parquet scan, column pruning, broadcast of small join sides,
map-side partial aggregation, and codegen coverage.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

import __spark_entry__ as entrymod
from timesearch_spark import plans
from timesearch_spark.tables import load

from tests.conftest import SF_SMALL


def _q(spark, name):
    return entrymod.queries()[name](spark, SF_SMALL)


def test_filter_timerange_pushes_down(spark):
    df = _q(spark, "filter_timerange")
    pushed = plans.pushed_filters(df)
    # the nanos-as-long bounds must reach the scan as INT64 comparisons
    assert pushed and any("ts" in p for p in pushed)


def test_threshold_filter_pushes_down(spark):
    df = _q(spark, "filter_threshold")
    assert any("l_quantity" in p for p in plans.pushed_filters(df))


def test_scan_project_prunes_columns(spark):
    # A1/B1 projection pruning, now carried by project_case (4 columns)
    df = _q(spark, "project_case")
    schemas = plans.read_schemas(df)
    assert schemas and all("o_custkey" in s for s in schemas)
    # the projection must not read the unused columns
    assert all("o_totalprice" not in s for s in schemas)


def test_point_lookup_pushes_key(spark):
    df = _q(spark, "point_lookup")
    assert any("o_orderkey" in p for p in plans.pushed_filters(df))


def test_equi_join_broadcasts_small_side(spark):
    df = _q(spark, "equi_join_thread")
    assert plans.uses_broadcast_join(df)


def test_breakdown_has_partial_aggregation(spark):
    df = _q(spark, "sort_computed_key")  # breakdown + F4 sort
    assert plans.has_partial_aggregate(df)


def test_minhash_signature_aggregates_map_side(spark):
    # the signature agg must partial-aggregate before its shuffle: every
    # doc's shingles collapse to one row per doc on the map side
    from timesearch_spark.operators.dedup import minhash_signature_table

    docs = load(spark, SF_SMALL, "documents")
    df = minhash_signature_table(docs)
    assert plans.has_partial_aggregate(df)


def test_shingle_paths_tokenize_once_per_document(spark):
    """HOF lambda-inlining guard (r11): shingling straight off a text
    column captures the tokenizing split() inside the per-gram slice
    lambda, and interpreted HOF lambdas re-evaluate captured subtrees
    per element — O(tokens × grams) splits per document.  The hot paths
    materialize the token array first (dedup.shingles_from) and pin the
    verify filter above its projection (the pushed-down form inlined the
    whole derivation into the join condition: split() appeared 40× in
    the optimized plan).  Pin: bounded split() counts in the optimized
    plans of the minhash banding + verify pipeline and the curate
    ladder's neardup rung."""
    from timesearch_spark.operators.dedup import (
        minhash_band_buckets, minhash_near_dups, release_pins)

    docs = load(spark, SF_SMALL, "documents")
    banding = minhash_band_buckets(docs, "text", "doc_id")
    plan = banding._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, "banding must tokenize once per doc"

    nd = minhash_near_dups(docs, "text", "doc_id", threshold=0.7)
    plan = nd._jdf.queryExecution().optimizedPlan().toString()
    # 1 banding scan + 2 per-pair token materializations (a/b sides);
    # anything more means an alias got re-inlined (the 40× regression)
    assert plan.count("split(") <= 4, plan.count("split(")
    # the verify threshold must sit ABOVE the join, not inside its
    # condition: no split() may appear on a Join line
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
    assert all("split(" not in ln for ln in join_lines)
    release_pins(nd)


def test_text_profile_is_shuffle_free(spark):
    # the profile expressions are a pure map stage: applied to an input
    # that's already well-split (the at-scale case, where spread() is a
    # no-op), the plan must contain no Exchange at all
    from timesearch_spark.operators import textstats as tx

    d = load(spark, SF_SMALL, "documents")
    prof = d.select(
        "doc_id",
        tx.token_count_ws("text").alias("n_ws"),
        tx.lang_id("text").alias("lang_guess"),
        tx.fingerprint_md5("text").alias("fp"),
    )
    plan = plans.formatted_plan(prof)
    assert "Exchange" not in plan


def test_spread_is_noop_on_well_split_input(spark):
    from timesearch_spark.tables import spread

    d = load(spark, SF_SMALL, "documents").repartition(64)
    assert spread(d, min_parts=32) is d  # already >= cores: no extra shuffle


def test_codegen_covers_scalar_queries(spark):
    for name in ("project_case", "scalar_newline", "scalar_base36"):
        df = _q(spark, name)
        assert plans.wholestage_codegen_spans(df) >= 1, name


def test_media_metadata_scan_prunes_payload(spark):
    from timesearch_spark.operators.multimodal import media_from_documents

    docs = load(spark, SF_SMALL, "documents")
    meta_only = media_from_documents(docs).select("media_id", "kind")
    schemas = plans.read_schemas(meta_only)
    assert schemas and all("text" not in s for s in schemas)


# --- training-pipeline operators (operators/pipeline.py) ---------------------

def test_split_and_redact_are_map_only(spark):
    # split assignment and PII redaction must stay pure map stages: no
    # Exchange anywhere in the plan, whatever the corpus size
    for name in ("pipeline_split", "redact_pii"):
        df = _q(spark, name)
        assert "Exchange" not in plans.formatted_plan(df), name


def test_incremental_dedup_shuffles_fingerprints_not_text(spark):
    # incremental dedup's exchanges must carry only the narrow
    # (fp, agg) relations — at 100 TB the document text never crosses
    # the wire, only 32-char fingerprints and longs
    import re

    df = _q(spark, "dedup_incremental")
    lines = plans.formatted_plan(df).splitlines()
    exchange_inputs = [
        lines[i + 1]
        for i, ln in enumerate(lines)
        if re.match(r"^\(\d+\) Exchange", ln.strip())
    ]
    assert exchange_inputs  # the index/first-holder aggs do shuffle
    for inp in exchange_inputs:
        assert "text" not in inp and "fp" in inp


def test_decontaminate_broadcasts_benchmark(spark):
    # the benchmark gram set must broadcast so document grams probe
    # map-side — a shuffle join here would move the whole corpus's grams
    df = _q(spark, "decontaminate")
    assert plans.uses_broadcast_join(df)


def test_quota_sample_single_shuffle_with_mapside_topk(spark):
    # one hash-partitioning on the stratum key feeds the rank window; a
    # second exchange would mean the sample re-shuffles the corpus.  The
    # partial WindowGroupLimit is the scale property: each map task keeps
    # only k rows per stratum BEFORE the shuffle, so the exchange moves
    # O(strata × k), not the corpus.
    df = _q(spark, "quota_sample")
    assert plans.num_shuffles(df) == 1
    plan = plans.formatted_plan(df)
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_pack_sequences_single_shuffle(spark):
    # packing shuffles once on the block key; the running sum and chunk
    # assignment ride the same partitioning
    df = _q(spark, "pipeline_pack")
    assert plans.num_shuffles(df) == 1


def test_asof_join_single_shuffle_no_theta_join(spark):
    # the union trick: both sides exchange ONCE on the key and the
    # running last() window answers the temporal predicate — a second
    # exchange or any Join node would mean the as-of degraded to a
    # shuffle-per-side or a quadratic theta-join
    df = _q(spark, "events_asof")
    plan = plans.executed_plan(df)
    assert plans.num_shuffles(df) == 1
    assert "Join" not in plan


def test_interval_join_is_hash_equi_join(spark):
    # bucket blocking must reach the join as an equi-join key: a
    # BroadcastNestedLoopJoin/CartesianProduct here means the range
    # predicate leaked into the join condition
    df = _q(spark, "events_interval")
    plan = plans.executed_plan(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_ngram_top_partial_aggregates(spark):
    df = _q(spark, "ngram_top")
    assert plans.has_partial_aggregate(df)


def test_deterministic_shuffle_has_no_global_sort(spark):
    # the permutation must come from per-shard windows (hash exchange),
    # never a rangepartitioning exchange (global single-ordering sort)
    from timesearch_spark.operators.pipeline import deterministic_shuffle

    d = load(spark, SF_SMALL, "documents")
    df = deterministic_shuffle(d, seed="s", num_shards=16)
    plan = plans.formatted_plan(df)
    assert "rangepartitioning" not in plan
    assert "SinglePartition" not in plan
    assert "hashpartitioning(shard" in plan


def test_spread_is_metadata_only_for_file_inputs(spark, monkeypatch):
    """spread() must never materialize df.rdd for parquet-backed input —
    the RDD conversion costs a full physical-planning pass per call
    (r3's measured per-query overhead).  Poison the .rdd property and
    exercise every decision branch that has file metadata."""
    from pyspark.sql import DataFrame

    from timesearch_spark.tables import spread

    d = load(spark, SF_SMALL, "documents")
    monkeypatch.setattr(
        DataFrame,
        "rdd",
        property(lambda self: (_ for _ in ()).throw(
            AssertionError("spread materialized df.rdd")
        )),
    )
    spread(d, min_parts=32)                      # under-split scan branch
    spread(d.repartition(64), min_parts=32)      # plan-repartition branch
    spread(d.groupBy("lang").count(), min_parts=32)  # post-shuffle branch


def test_batch_topk_is_one_linear_job(spark):
    """cosine_topk_batch: the query set is literal/broadcast state, so the
    plan must contain NO join — one scan, one Python stage, and exactly
    one survivors-only shuffle (the per-qid ranking window).  Fake
    well-split footer metadata so spread() is the at-scale no-op and the
    only Exchange left is the window's."""
    from timesearch_spark import tables
    from timesearch_spark.operators import similarity as sim

    emb = load(spark, SF_SMALL, "embeddings")
    files = emb.inputFiles()
    saved = {f: tables._FILE_META.get(f) for f in files}
    for f in files:
        tables._FILE_META[f] = (64, 1 << 30, 10_000_000)
    try:
        queries = emb.filter("vec_id < 4").select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("q")
        )
        out = sim.cosine_topk_batch(emb, queries, k=10)
        plan = plans.formatted_plan(out)
        assert "Join" not in plan
        assert plans.num_shuffles(out) == 1
        # Spark pushes the rank limit map-side: partial WindowGroupLimit
        # before the exchange, so survivors (not all scores) shuffle
        assert "WindowGroupLimit" in plan
    finally:
        for f, v in saved.items():
            if v is None:
                tables._FILE_META.pop(f, None)
            else:
                tables._FILE_META[f] = v


@pytest.fixture(scope="module")
def all_query_plans(spark):
    """name -> formatted plan for every registered query, built ONCE:
    the two engine-wide plan invariants below each used to construct
    all ~50 query plans themselves (some constructions run eager
    model-build jobs), doubling ~70 s of pure construction."""
    import timesearch_spark.queries as tsq

    return {
        name: plans.formatted_plan(fn(spark, SF_SMALL))
        for name, fn in tsq.QUERIES.items()
    }


def test_no_row_at_a_time_python_in_any_query(all_query_plans):
    """Engine-wide invariant: every Python surface in every registered
    query is Arrow-batched (ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas) — a row-at-a-time BatchEvalPython stage in
    any plan is the exact anti-pattern the engine bans.  Plan
    construction only; nothing executes."""
    offenders = [name for name, plan in all_query_plans.items()
                 if "BatchEvalPython" in plan]
    assert offenders == []


# Queries whose plans legitimately contain a BroadcastNestedLoopJoin:
# every one is a BOUNDED broadcast side (a 1-row query vector, a 1-row
# corpus-stats scalar, a scalar-aggregate cross of two 1-row relations,
# or the explicitly size-gated all-pairs brute path) — never data×data.
_BNLJ_BOUNDED = {
    "count_max",            # 1-row agg × 1-row agg scalar cross
    "similarity_topk",      # broadcast 1-row query vector
    "similarity_topk_q8",   # broadcast 1-row query vector
    "similarity_neardup_brute",  # size-gated O(n²) path, brute BY DESIGN
    "similarity_brute",     # r14 merge of the two rows above — same plans
    "pipeline_bm25",        # broadcast 1-row (N, avgdl) corpus stats
}


def test_no_unbounded_cross_join_in_any_query(all_query_plans):
    """Engine-wide invariant: no registered query's plan contains a
    CartesianProduct, and BroadcastNestedLoopJoin appears only in the
    documented bounded-broadcast set above.  A new query tripping this
    either needs a join key (bucketed/blocked form) or an explicit
    entry here with the boundedness argument."""
    offenders = []
    for name, plan in all_query_plans.items():
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_BOUNDED:
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert offenders == []


def test_dedup_spans_plan_shape(spark):
    # window-frequency pass must partial-aggregate (map-side combine on
    # the 16-byte fingerprints) and nothing may degenerate to a
    # cartesian/nested-loop join
    df = _q(spark, "dedup_spans")
    plan = plans.executed_plan(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert plans.has_partial_aggregate(df)


def test_composed_ladders_stay_inside_shuffle_budget(spark):
    """Lineage-regression canary: the curate ladder and near-dup
    clustering once silently re-embedded their whole candidate pipeline
    into the final plan (components labels derived the node universe
    from the caller's pair plan — plan audit showed curate jumping
    14 → 30 shuffles with no functional change).  Pin a generous
    ceiling so any future re-embedding fails CI instead of waiting for
    a human to diff PLANS_r{N}.md.  The budget is a CEILING (audited
    values +~30% headroom), not a target."""
    from timesearch_spark.operators.dedup import release_pins

    curate = _q(spark, "pipeline_curate")
    assert plans.num_shuffles(curate) <= 18
    assert plans.num_shuffles(_q(spark, "dedup_cluster")) <= 10
    # The default ladder persists exactly two rungs — the quality-gated
    # survivors and the exact-dedup keepers with their cached __tok
    # tokens (count taken before the staged ladder was folded into
    # curate_corpus); a third pin or a lost token cache is a plan change.
    pinned = curate._pinned
    assert len(pinned) == 2
    assert all(p.storageLevel.useMemory for p in pinned)
    assert [("__tok" in p.columns) for p in pinned] == [False, True]
    release_pins(curate)


def test_decontaminate_construction_runs_no_job_for_parquet_benchmark(
    spark, tmp_path
):
    """r8 ADVICE item 3: the broadcast-size gate must answer from the
    parquet footers (byte_size_bound — no Spark job) when the benchmark
    is file-backed; the bounded limit().count() probe is the fallback,
    not the default.  Pinned via a job group: DataFrame CONSTRUCTION
    must submit zero jobs."""
    from timesearch_spark.operators import pipeline as pl

    docs = spark.range(50).selectExpr(
        "id AS doc_id",
        "concat('alpha bravo charlie delta echo foxtrot golf hotel ', id) "
        "AS text",
    )
    dp, bp = str(tmp_path / "d.parquet"), str(tmp_path / "b.parquet")
    docs.write.parquet(dp)
    docs.limit(5).write.parquet(bp)
    d, b = spark.read.parquet(dp), spark.read.parquet(bp)

    sc = spark.sparkContext
    sc.setJobGroup("decontam-construct", "construction-only")
    try:
        df = pl.decontaminate(d, b, n=4, max_broadcast_grams=1_000_000)
        ids = sc.statusTracker().getJobIdsForGroup("decontam-construct")
    finally:
        sc.setJobGroup("decontam-construct-done", "")
    assert list(ids) == [], f"construction submitted jobs: {ids}"
    assert df.count() >= 0  # the plan still executes fine


def test_lm_and_clf_scoring_plans_stay_jvm_side(spark):
    """r12: the LM-family and classifier scorers are broadcast-join +
    hash-agg plans — broadcast present, partial aggregation present, no
    Python eval nodes of any kind (the model tables are the only
    state)."""
    qs = entrymod.queries()
    for name in ("text_lm_ppl", "text_lm_ppl_bigram", "text_quality_clf"):
        df = qs[name](spark, SF_SMALL)
        plan = plans.formatted_plan(df)
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, name
        assert "partial" in plan.lower(), name
        # no per-row Python evaluation anywhere; the bounded model table
        # itself arrives via Arrow (LocalTableScan), not a Python RDD
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                     "FlatMapGroupsInPandas", "PythonRDD",
                     "applySchemaToPythonRDD"):
            assert node not in plan, (name, node)


def test_intra_line_dedup_is_map_only(spark):
    """r12/r13: with ``max_lines=None`` (corpus known line-bounded) the
    within-document repeated-line rewrite is a pure map stage — zero
    Exchange.  The DEFAULT plan carries the r13 straggler guard: an
    explode + window arm for over-bound documents, whose Exchange
    partitions on the per-document line rows (only those documents'
    lines ever shuffle)."""
    from timesearch_spark.operators.dedup import remove_repeated_lines_within

    d = load(spark, SF_SMALL, "documents")
    out = remove_repeated_lines_within(d, max_lines=None)
    assert "Exchange" not in plans.formatted_plan(out)

    guarded = plans.formatted_plan(remove_repeated_lines_within(d))
    assert "Exchange" in guarded  # the routing arm exists in the plan
    assert "Union" in guarded
