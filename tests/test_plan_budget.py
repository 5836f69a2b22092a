"""Physical-plan regression gate for the most expensive headliners.

PLAN_AUDIT.md is a human report and goes stale the round after an operator
changes (it happened to hard_negative_mining in round 6); this gate pins the
same properties in pytest so a plan regression fails CI, not a later audit:

- shuffle-count ceiling (Exchange hash/range-partitioning nodes in the FINAL
  adaptive plan) — the wide-op budget that must stay flat at 100 TB
- 1-partition-exchange ceiling (each allowed occurrence is a traced tiny
  subplan — top-k finals, |groups|-row apportionment — never the data path)
- Python-stage allowlist (Arrow seams are deliberate and enumerated; any new
  Python on a JVM-only query is a regression)
- whole-stage codegen present

Budgets are pinned at sf0.001 (plan SHAPE is scale-invariant for these
queries; AQE join-strategy choices that differ by SF would only LOWER the
small-SF counts, so the ceilings hold upward).  The two iterative queries
(pagerank_dup_graph, contamination_reach) run their loops at plan-build time
behind checkpointed lineage, so their final DataFrame plan is a LogicalRDD
scan — pinned as exactly zero-shuffle/zero-python here; their loop structure
is covered by tests/test_graph.py job-count assertions.
"""

import pytest

from kioss_spark.queries import load_all
from tools.audit_plans import PYTHON_OK, analyze_plan, executed_plan

#: name -> (max shuffles, max single-partition exchanges)
BUDGET = {
    "dedup_provenance": (3, 0),
    "dedup_cluster_best": (3, 0),
    "pipeline_incremental_refresh": (3, 1),
    "dedup_minhash_lsh": (3, 0),
    "dedup_containment_pairs": (3, 0),
    "hard_negative_mining": (1, 0),
    # 4 + spread_scan's conditional single-split re-spread (no-op at scale)
    "quality_ensemble": (5, 3),
    "pipeline_curation": (7, 0),
    # 2 shuffles before round 8; the vocab-keyed chain (chain runs once
    # per DISTINCT word — measured 2.1x at the decade corpus) buys its
    # win with a (doc_id, w) combine + vocab join: 4 shuffles now
    "bpe_segment_corpus": (4, 0),
    "quality_linear_probe": (0, 0),
    "pagerank_dup_graph": (0, 0),
    "contamination_reach": (0, 0),
    # round-7 wave: the most shuffle-heavy queries in the registry (the
    # recall audit and dup-rate profile each run TWO candidate pipelines)
    # plus the zero/one-shuffle PQ serving path — pinned the round they
    # landed so the audit doc can't go stale alone (the r6
    # hard_negative_mining lesson)
    "dedup_lsh_recall": (8, 0),
    "profile_dup_rate": (8, 0),
    "dedup_threshold_sweep": (5, 0),
    "split_by_cluster": (2, 0),
    # PQ serving rungs: 1 = the per-query rank exchange; the optional
    # second is spread_scan's corpus re-spread, present ONLY when the
    # corpus scan yields fewer splits than cores (the fixture's
    # single-file case — at real scale the spread is a no-op and the
    # profile collapses back to 1).  The rungs must stay each other's
    # exact profile plus at most that conditional spread.
    "ann_pq_adc": (2, 0),
    "ann_pq_codes": (0, 0),
    # residual IVFPQ keeps the raw path's shuffle profile — the
    # residual subtraction folds into the literal-codebook codegen
    "ann_pq_residual": (2, 0),
    # the OPQ rung keeps raw ADC's shuffle profile — the learned
    # rotation folds into the broadcast-side literal codegen
    "ann_pq_opq": (2, 0),
    # ...and so does the full OPQ-over-residuals composition (top rung)
    "ann_pq_opq_res": (2, 0),
    "quality_pctl_by_source": (2, 0),
    # the (doc_id, w) combine + vocab join of the round-8 vocab-keyed
    # chain, the (doc_id, k) histogram agg (exchange REUSED across both
    # consumers), then histogram-grain aggs/windows/sort
    "bpe_coverage": (9, 0),
    # round-8 monitors/planners: each is one corpus pass + decile/source/
    # 1-row-grain aggs; the single-partition exchange is the tiny totals
    # (or 12-sum S-curve) aggregate, never the data path
    "quality_score_drift": (3, 1),
    "token_budget_by_source": (3, 1),
    "dedup_lsh_scurve": (5, 1),
    # the remaining top of the bench structural table (BENCH_DETAIL_r08):
    # triangle counting is the registry's highest shuffle count (wedge
    # build + 3 keyed joins over the persisted pair graph) — pin it and
    # the next unpinned tier so the whole shuffle-heavy tail is gated
    "dup_graph_triangles": (11, 0),
    # one corpus-scale per-key count; squaring/bucketing/windows run at
    # the <=64-row log2-bucket histogram (the single-partition window is
    # that tiny subplan)
    "join_fanout_audit": (2, 1),
    "dedup_incremental_pairs": (5, 0),
    "retention_cohorts": (6, 0),  # 6 at sf0.001 (one more pre-AQE-broadcast
                                  # exchange than the sf0.1 bench measures)
    # round-9: unigram-LM Viterbi segmentation rides the exact
    # bpe_segment_corpus shape — (doc_id, w) combine + distinct-word DP +
    # AQE-broadcast vocab join + per-doc agg
    "unigram_segment_corpus": (4, 0),
    # ALL THREE tokenizer chains on ONE shared distinct-word relation:
    # the (source, w) combine + the shared vocab distinct + broadcast
    # join + source-grain agg — the second and third chains each added
    # ZERO shuffles (r9 added unigram, r10 added WordPiece)
    "tokenizer_compare": (4, 0),
    # round-10: WordPiece rides the exact unigram_segment_corpus shape —
    # (doc_id, w) combine + distinct-word greedy fold + AQE-broadcast
    # vocab join + per-doc agg
    "wordpiece_segment_corpus": (4, 0),
    # gaps-and-islands SCD2: the islands windows and interval agg all
    # share the id key (one keyed exchange + the final order)
    "corpus_scd2_history": (2, 0),
    # the unigram corpus pass (4) + the (source, ppl) histogram agg,
    # histogram-grain cumulative window, and the broadcast-back of the
    # 20-row threshold table — never a corpus-sized per-source window
    "quality_ccnet_buckets": (7, 0),
    # round-10: BM25 — the (doc_id, term) combine (reused by the df
    # branch), the doc-keyed dl window, the (doc, dl) global agg, the
    # (query, doc) score agg, per-query rank, and the final sort; the
    # single-partition window is the 31-term vocabulary rank BY DESIGN
    "bm25_topk": (8, 1),
    # round-10: perceptual-hash near-dup — hashing is ONE narrow
    # projection (zero shuffles); the wide ops are the band-keyed SMJ
    # self-join (both sides ONE reused exchange — the hint that halved
    # wall by evaluating the hash subtree once), the pair distinct, and
    # the final sort
    # 4 + spread_scan's conditional single-split re-spread (no-op at scale)
    "mm_phash_dedup": (5, 0),
    # round-10: hybrid RRF = the full bm25 shape (8) + the dense rank +
    # the (query, cand) fusion join of two |q|x20 rank lists + the final
    # per-query rank — every added exchange is rank-list-grain (bounded
    # by |q| x k, corpus-independent); the onep is the vocabulary rank
    "hybrid_rrf_topk": (12, 1),
    # round-11: the stored-index leg landed — the SERVED plan's existing-
    # corpus work is now a bucketed-table SCAN (round 10 rebuilt both
    # sides: 14 shuffles), leaving the batch-side stats pipeline, the
    # vocabulary-grain df outer join, the 2-row global union agg, and
    # the query rank; the two oneps are the vocabulary rank + that
    # 2-row agg (the bootstrap write happens at plan build, not in the
    # served plan)
    "bm25_index_ingest": (9, 2),
    # round-11: phrase/proximity BM25 — positional stats ride the same
    # (doc_id, term) combine; the bow and phrase lanes each aggregate
    # the query-term-bounded postings join on (query, doc) (different
    # subplans — dropDuplicates vs position-fold — so their exchanges
    # don't dedupe), plus the fixture-derived phrase set's two n-gram
    # count/rank pipelines; the 2 oneps are those vocabulary^n-grain
    # rank windows BY DESIGN (~31-word vocabulary; two-stage top-k at
    # larger vocabularies)
    "bm25_phrase_topk": (17, 2),
    "bm25_proximity_topk": (17, 2),
    # round-11: IR quality harness — PPJoin pair truth + shingle-grain
    # BM25 + dense cosine + fusion + rank-list-grain metrics; the 8-row
    # query set and both |q|x20 rank lists are eagerly checkpointed
    # (each had 2-6 consumers), so several upstream exchanges run once
    # at plan build; zero single-partition exchanges in the served plan
    # (the qset rank runs behind the checkpoint)
    "retrieval_quality": (18, 0),
    # round-11: the SERVED plan is the pruned candidate-file scan + one
    # keyed agg (the compaction/stats-index/candidate-collect run at
    # plan build, manifest-style); AQE may split the agg's partials
    "skipping_scan_events": (2, 0),
    # round-11: two KMV state builds (each: partial bottom-k -> distinct
    # -> keyed rank) + the state-grain outer join + estimate; the stored
    # side's bootstrap write happens at plan build
    "sketch_state_ingest": (3, 0),
    # round-11: manifest-as-truth ingest — 3 batch commits run at plan
    # build; the served plan is the manifest-listed candidate scan +
    # one keyed agg
    "manifest_ingest_scan": (2, 0),
    # round-12: max-score pruned BM25 — the bm25_topk shape (8) plus the
    # pruning scaffolding: the per-term bounds agg, TWO vocabulary rank
    # windows (the rarity-mixed query set: common desc + rare asc), the
    # essential-list partial-score pipeline + theta rank, the per-query
    # bound-sum agg, and the (query, doc) candidate join keying BOTH
    # sides; every addition is either vocabulary/query-grain or bounded
    # by the essential (rarest) posting list — the common-list postings
    # the pruning exists to drop never reach the score agg.  onep = the
    # vocabulary ranks BY DESIGN (as bm25_topk)
    "bm25_maxscore_topk": (23, 2),
    # round-12: positional ingest — bm25_phrase_topk's serving shape
    # (17) with the existing-corpus side swapped for bucketed scans and
    # the batch-side positional stats pipeline + vocabulary-grain df
    # outer join + 2-row global agg added; oneps = the two n-gram rank
    # windows (phrase-set derivation) + the 2-row global agg + the
    # stored-g 1-bucket scan
    "bm25_phrase_index_ingest": (20, 4),
    # round-12: string skipping — the served plan is the pruned
    # candidate scan + one source-keyed agg (rewrite/stats/candidates at
    # plan build, the skipping_scan_events pattern)
    "skipping_scan_strings": (1, 0),
    # round-12: fractional-bound skipping — pruned candidate scan + ONE
    # global agg (its single partial->final collapse is the onep)
    "skipping_scan_double": (1, 1),
    # round-12: the full manifest lifecycle (commit x3, compact, vacuum)
    # runs at plan build; the served plan is the manifest-listed
    # candidate scan + one keyed agg
    "manifest_compact_scan": (2, 0),
    # round-12: block-Bloom point lookup — rewrite/index/probe-bucket
    # job run at plan build; the served plan is the membership-pruned
    # candidate scan + one keyed agg
    "member_scan_events": (2, 0),
    # round-12: manifest change-feed catch-up — commits + the file-grain
    # diff run at plan build; the served plan reads ONLY the added batch
    # files + one keyed agg (no pushdown by design: the 'predicate' is
    # the driver-side file selection itself)
    "manifest_changes_scan": (1, 0),
    # round-12: NTZ event-time skipping — rewrite/stats/candidates at
    # plan build; the served plan is the time-pruned scan + one keyed agg
    "skipping_scan_time": (1, 0),
    # round-12: stats-only aggregation — commits at plan build; the
    # served plan reads ONLY the n_files x n_cols snapshot; the three
    # 1-row aggregates (n_rows + two per-col stats, cross-joined) are
    # the oneps BY DESIGN (manifest-grain, table-size-independent).
    # round-14: the v3 checkpointed log resolves the snapshot through a
    # last-writer-wins fold whose window exchange is ALSO
    # manifest-grain — the extra shuffles carry n_files x cols rows,
    # never table rows, so the 100 TB contract is intact
    "manifest_stats_only": (3, 3),
}

#: narrow-scan pins: projection must reach the parquet scan
MAX_SCAN_COLS = {
    "bpe_segment_corpus": 2,   # doc_id, text (documents has 6 columns)
    "quality_linear_probe": 3,  # vec_id, label, embedding
    # PQ path reads only (vec_id, embedding): codebooks are plan literals,
    # so any extra scanned column means the literal fold regressed
    "ann_pq_codes": 2,
    "ann_pq_adc": 2,
    "ann_pq_residual": 2,
    "ann_pq_opq": 2,
    "ann_pq_opq_res": 2,
    "join_fanout_audit": 1,  # user_id only (events has 6 columns)
    "unigram_segment_corpus": 2,  # doc_id, text — scores are plan literals
    "tokenizer_compare": 2,  # source, text — both models are plan literals
    "quality_ccnet_buckets": 3,  # doc_id, source, text
    # round-15: bm25_topk's corpus scan moved INTO the materialized
    # (doc, term) combine (bm25_stats materialize=True) — the served
    # plan reads the checkpoint, so its scan width is pinned on the
    # stats subplan instead (test_bm25_stats_scan_pruning below)
    "mm_phash_dedup": 2,  # doc_id, text — the hash folds are pure algebra
    "wordpiece_segment_corpus": 2,  # doc_id, text — vocab is plan literals
    # round-11 stored-index leg: the widest scan is now the persisted
    # tfdl bucketed table — all 4 of its columns (doc_id, term, tf, dl)
    # ARE the postings payload; the documents scan stays at 2
    "bm25_index_ingest": 4,
}


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    spark.conf.set("spark.sql.debug.maxToStringFields", "200")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    registry = load_all()
    return {
        name: analyze_plan(executed_plan(spark, registry[name], sf_dir))
        for name in BUDGET
    }


@pytest.mark.parametrize("name", sorted(BUDGET))
def test_shuffle_and_onep_budget(plans, name):
    max_shuffles, max_onep = BUDGET[name]
    p = plans[name]
    assert p["shuffles"] <= max_shuffles, (
        f"{name}: {p['shuffles']} shuffles > budget {max_shuffles}"
    )
    assert p["onep"] <= max_onep, (
        f"{name}: {p['onep']} single-partition exchanges > budget {max_onep}"
    )


@pytest.mark.parametrize("name", sorted(BUDGET))
def test_python_stage_allowlist(plans, name):
    p = plans[name]
    if name not in PYTHON_OK:
        assert not p["python"], (
            f"{name}: unexpected Python stage in the physical plan "
            "(add to tools.audit_plans.PYTHON_OK only if deliberate)"
        )


@pytest.mark.parametrize("name", sorted(BUDGET))
def test_codegen_present(plans, name):
    assert plans[name]["codegen"], f"{name}: no whole-stage-codegen span"


@pytest.mark.parametrize("name", sorted(MAX_SCAN_COLS))
def test_scan_column_pruning(plans, name):
    got = plans[name]["scancols"]
    assert got and got <= MAX_SCAN_COLS[name], (
        f"{name}: parquet scan reads {got} columns "
        f"(budget {MAX_SCAN_COLS[name]}) — projection not pushed to the scan"
    )


def test_hard_negative_mining_python_is_allowlisted():
    # the round-6 partial top-k seam is DELIBERATE — pin its allowlisting so
    # the audit doc and this gate can't silently disagree again
    assert "hard_negative_mining" in PYTHON_OK


def test_bm25_stats_scan_pruning(spark, sf_dir):
    # round-15: the bag-of-words topk queries materialize the (doc, term)
    # combine (bm25_stats materialize=True), so the corpus scan no longer
    # appears in the SERVED plan (the checkpoint truncates it).  Pin the
    # pruning on the subplan the checkpoint executes instead: the lazy
    # stats build must read only (doc_id, text) from the documents table.
    from pyspark.sql import functions as F

    from kioss_spark.operators import retrieval
    from kioss_spark.queries.llm import _docs, tokens
    from tools.audit_plans import analyze_plan

    docs = _docs(spark, sf_dir)
    inv = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tfdl, _, _ = retrieval.bm25_stats(inv)  # same subtree, un-truncated
    plan = tfdl._sc._jvm.PythonSQLUtils.explainString(
        tfdl._jdf.queryExecution(), "formatted"
    )
    got = analyze_plan(plan)["scancols"]
    assert got and got <= 2, (
        f"bm25_stats combine scan reads {got} columns (budget 2)"
    )


# --------------------------------------------------------------- Stream chains
#
# Spark cannot share work between two branches that both read a
# ``mapInPandas`` output, so an operator that splits its input (error rows
# one way, ok rows the other) and unions the halves re-runs every upstream
# Python callable once per branch.  The facade's contract is one run of each
# callable per action: these gates count the ``MapInPandas`` nodes and
# ``Union``s of the executed plan.


def _parse(x):
    if x % 7 == 3:
        raise ValueError(f"bad {x}")
    return x * 3 + 1


def _keep(v):
    return v % 4 != 0


async def _enrich(v):
    return (v * 7) % 5003


def _spread(v):
    return [v % 97, v % 89]


def _bucket(v):
    return str(v % 16)


def _odd_raises(x):
    if x % 2 == 1:
        raise ValueError(f"odd {x}")
    return x


def _python_nodes(df):
    """(MapInPandas, Union, join) node counts of the executed final plan."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    return plan.count("MapInPandas"), plan.count("Union"), plan.count("Join")


def test_stream_chain_runs_each_callable_once(spark):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kioss_spark.stream import Stream

    long_t = T.LongType()
    s = (
        Stream.from_df(spark.range(200).select(F.col("id").alias("value")), seq="value")
        .map(_parse, returnType=long_t)
        .catch(ValueError, replacement=-1)
        .filter(_keep)
        .amap(_enrich, returnType=long_t)
        .map(_spread, returnType=T.ArrayType(long_t))
        .flatten()
        .distinct()
        .group(by=_bucket)
    )
    # five callables: map, filter, amap, map, the group key
    assert _python_nodes(s.to_df(ordered=False, keep_err=True))[:2] == (5, 0)


def test_error_carrying_operators_read_input_once(spark):
    from pyspark.sql import types as T

    from kioss_spark.stream import Stream

    errs = Stream.range(spark, 40).map(_odd_raises, returnType=T.LongType())
    for name, s, n_python in (
        ("distinct", errs.distinct(), 1),
        ("distinct(key=fn)", errs.distinct(key=_bucket), 2),
        ("distinct(consecutive)", errs.distinct(consecutive_only=True), None),
        ("group(by=fn)", errs.group(by=_bucket), 2),
        ("group(size=)", errs.group(size=3), None),
        ("groupby(fn)", errs.groupby(_bucket), 2),
        ("catch(when=)", errs.catch(ValueError, when=lambda e: "1" in str(e)), 2),
    ):
        python, unions, joins = _python_nodes(s.to_df(ordered=False, keep_err=True))
        assert unions == 0, f"{name}: error rows split off and unioned back"
        if n_python is not None:
            # cached inputs (group(size)'s rank pass, the consecutive
            # form's checkpoint) print their plan once per reader
            assert python == n_python, f"{name}: {python} MapInPandas, want {n_python}"
        if name == "catch(when=)":
            assert joins == 0, f"{name}: predicate joined back on __seq__"
        s.release()
