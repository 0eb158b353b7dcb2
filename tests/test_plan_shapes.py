"""Plan-shape regression tests: the scale-critical properties of the
physical plans (shuffle counts, broadcasts, column pruning) that the
per-operator docstrings promise. These catch silent regressions — a
correct-but-reshuffling plan passes every value test while being 10x
slower at scale."""

import contextlib
import io
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simpletasks_data_spark import queries as Q  # noqa: E402

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _tree(plan: str) -> str:
    # The numbered tree before the per-node detail sections.
    return plan.split("\n\n")[0]


def test_map_only_queries_have_no_shuffle(spark):
    for name in (
        "text_stats",
        "text_repetition",
        "pii_scrub_customers",
        "bpe_token_count",
        "chunk_documents",
        "embedding_quantize_int8",
        "weighted_sample_quality",
    ):
        tree = _tree(_plan(Q.queries()[name](spark, SF)))
        assert "Exchange" not in tree, f"{name} gained a shuffle:\n{tree}"


def test_single_shuffle_window_ops(spark):
    for name in ("pack_sequences",):
        tree = _tree(_plan(Q.queries()[name](spark, SF)))
        assert tree.count("Exchange") == 1, f"{name} should shuffle exactly once:\n{tree}"


def test_q3_broadcasts_dimensions(spark):
    tree = _tree(_plan(Q.queries()["q3_shipping_priority"](spark, SF)))
    assert "BroadcastHashJoin" in tree, f"q3 lost its broadcast join:\n{tree}"


def test_tfidf_scans_corpus_text_once(spark):
    plan = _plan(Q.queries()["tfidf_top_terms"](spark, SF))
    # The doc-term table is checkpointed: only the row-count branch may
    # rescan the parquet, and it must read NO columns (footer-only count).
    text_scans = plan.count("ReadSchema: struct<doc_id:bigint,text:string>")
    assert text_scans == 0, f"tfidf re-scans the corpus text {text_scans}x"
    assert "ReadSchema: struct<>" in plan  # the free footer-only count


def test_scans_prune_columns(spark):
    # chunk_documents needs only (doc_id, text) out of 5 document columns.
    plan = _plan(Q.queries()["chunk_documents"](spark, SF))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_scd2_single_exchange(spark):
    """scd2_from_changelog: the change-detect window, the filter, and the
    interval window must share ONE hash exchange on the key (and the filter
    must not force a second sort)."""
    df = Q.queries()["scd2_user_state"](spark, SF)
    tree = _tree(_plan(df))
    assert tree.count("Exchange") == 1, tree
    assert tree.count("Sort") == 1, tree


def test_unigram_logprob_broadcast_model(spark):
    # the vocab model and the 1-row total must broadcast back onto the
    # token stream; the only hash-partition exchanges are the vocab agg
    # and the final per-doc agg
    tree = _tree(_plan(Q.queries()["quality_unigram_logprob"](spark, SF)))
    assert "BroadcastHashJoin" in tree, f"vocab model join lost its broadcast:\n{tree}"
    assert "BroadcastNestedLoopJoin" in tree, f"scalar total lost its broadcast:\n{tree}"
    assert tree.count("Exchange hashpartitioning") <= 2, tree


def test_boilerplate_broadcast_frequent_set(spark):
    tree = _tree(_plan(Q.queries()["boilerplate_ngram_fraction"](spark, SF)))
    assert "BroadcastHashJoin" in tree, f"frequent-set join lost its broadcast:\n{tree}"


def test_retained_corpus_anti_join(spark):
    # The removal list scales with the dup rate (30-50% of a crawl corpus),
    # so it must NOT be hint-broadcast (r7 verdict item 1): the cut is a
    # plain key anti-join and AQE broadcasts it only while actually small.
    tree = _tree(_plan(Q.queries()["dedup_retained_corpus"](spark, SF)))
    assert "LeftAnti" in tree, f"retained-corpus cut must be an anti join:\n{tree}"
    assert "CartesianProduct" not in tree, tree


def test_knn_incremental_probe_single_cell_join(spark):
    # probe join on the cell key + per-query top-k window: the window's
    # hash exchange is the only shuffle beyond the join's own exchanges
    tree = _tree(_plan(Q.queries()["knn_incremental_probe"](spark, SF)))
    assert "Window" in tree, tree
    assert tree.count("Exchange hashpartitioning") <= 3, tree


def test_bucketed_join_no_exchange(spark):
    # both sides bucketed+sorted on the key: the sort-merge join and the
    # following same-key aggregation must run with ZERO exchanges
    tree = _tree(_plan(Q.queries()["bucketed_join_orders_customer"](spark, SF)))
    assert "SortMergeJoin" in tree, tree
    assert "Exchange" not in tree, f"bucketed join regained a shuffle:\n{tree}"


def test_global_shuffle_no_single_partition_window(spark):
    # the total order must come from range partitioning + offsets, never
    # a bare global-window funnel through one task
    tree = _tree(_plan(Q.queries()["corpus_global_shuffle"](spark, SF)))
    assert "Exchange SinglePartition" not in tree, (
        f"global shuffle funnels through one partition:\n{tree}"
    )


def test_signature_store_reused_across_dedup_family(spark):
    # the store materializes once per (session, sf_dir); the whole fuzzy
    # dedup family must consume the SAME checkpointed frames, and a warm
    # store must not change results
    from simpletasks_data_spark.queries import _signature_store
    from simpletasks_data_spark.session import _SESSION_STORE

    def signature_entries():
        return [k for k in _SESSION_STORE if k[0] is _signature_store.__wrapped__]

    for k in signature_entries():
        del _SESSION_STORE[k]
    h1, s1 = _signature_store(spark, SF)
    h2, s2 = _signature_store(spark, SF)
    assert h1 is h2 and s1 is s2, "second lookup rebuilt the store"

    cold = {(r.id_a, r.id_b) for r in Q.queries()["dedup_minhash"](spark, SF).collect()}
    warm = {(r.id_a, r.id_b) for r in Q.queries()["dedup_minhash"](spark, SF).collect()}
    assert cold == warm
    assert len(signature_entries()) == 1


def test_dedup_clusters_warm_call_reuses_generated_code(spark):
    """A ``dedup_clusters`` call uses more generated classes than Spark's
    default codegen cache holds (100); the session's larger cache must
    let later calls reuse every class the first one compiled. Two warm
    calls are counted: with 100 entries which classes survive varies
    from run to run, and each warm call recompiled 20-35."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    run = lambda: Q.queries()["dedup_clusters"](spark, SF).collect()  # noqa: E731
    run()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    run()
    run()
    assert metrics.METRIC_COMPILATION_TIME().getCount() - before <= 5


def test_session_turns_off_call_site_capture(spark):
    """``get_spark`` builds the session with DataFrame call-site capture
    off; a typo'd column still raises the named analysis error."""
    from pyspark.errors import AnalysisException

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(AnalysisException) as err:
        spark.range(2).select("nope")
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN")


def _round_trips(spark, call):
    """Calling-thread Py4J round trips of one warm ``call()``, and the
    reflection lookups among them."""
    import threading

    from simpletasks_data_spark.session import count_py4j_round_trips

    call()
    with count_py4j_round_trips(spark) as counts:
        call()
    me = threading.get_ident()
    return counts.get(me, 0), counts.reflection.get(me, 0)


def _col_round_trips(spark):
    """Calling-thread Py4J round trips of one warm ``F.col``."""
    from pyspark.sql import functions as F

    return _round_trips(spark, lambda: F.col("x"))[0]


def test_session_resolves_jvm_entry_points(spark):
    """After ``get_spark`` a Column function is one Py4J round trip, the
    call itself: the class and method lookups (3 round trips without the
    pre-resolved entry points) are not repeated."""
    assert _col_round_trips(spark) == 1


_RESTART_PROBE = """
import json, sys
sys.path[:0] = [sys.argv[1], sys.argv[2]]
import pyspark.errors.utils
from pyspark import SparkContext
from pyspark.sql import SparkSession, functions as F
from simpletasks_data_spark.session import get_spark, pin_session_confs
from test_plan_shapes import _col_round_trips, _round_trips


def new_gateway(spark, *conf):
    # as when a JVM is torn down between runs
    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    builder = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false")
    for k, v in conf:
        builder = builder.config(k, v)
    return builder.getOrCreate()


out = {}
spark = get_spark(master="local[1]", shuffle_partitions=1)
spark.stop()
spark = get_spark(master="local[1]", shuffle_partitions=1)
out["restarted"] = _col_round_trips(spark)
out["active_session"] = _round_trips(spark, SparkSession.getActiveSession)
spark = new_gateway(spark, ("spark.python.sql.dataFrameDebugging.enabled", "false"))
out["foreign"] = _col_round_trips(spark)
pin_session_confs(spark)
out["foreign_pinned"] = _col_round_trips(spark)
# call-site capture on: PySpark caches the conf's value process-wide
pyspark.errors.utils._enable_debugging_cache = None
spark = new_gateway(spark)
col = lambda: F.col("x")
out["capture"] = _round_trips(spark, col)
pin_session_confs(spark)
out["capture_pinned"] = _round_trips(spark, col)
spark.stop()
print(json.dumps(out))
"""


def test_entry_points_survive_restart_and_reach_foreign_sessions():
    """In a fresh process: a stopped and rebuilt ``get_spark`` session
    keeps the one-round-trip ``F.col``, and an active-session lookup
    resolves nothing by name (4 round trips, 2 of them reflection,
    without the ``SparkSession`` handle); a session built on a new
    gateway without ``get_spark`` pays the lookups (3) until
    ``pin_session_confs`` resolves its entry points (1). A foreign
    session with call-site capture on pays 13 round trips, 7 of them
    reflection, for a warm ``F.col``; pinned, 6 with none (11 and 5
    with only the ``functions`` and ``PythonUtils`` handles)."""
    import json
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_PROBE, os.path.dirname(here), here],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out == {
        "restarted": 1,
        "active_session": [2, 0],
        "foreign": 3,
        "foreign_pinned": 1,
        "capture": [13, 7],
        "capture_pinned": [6, 0],
    }


# Calling-thread Py4J round trips of one import below: 1,125 measured as
# the first import of a fresh session (1,102 warm) with the JVM entry
# points pre-resolved, 2,030-2,036 before; 11,276 with call-site capture.
IMPORT_PY4J_CEILING = 1230


def test_import_driver_floor_py4j_round_trips(spark):
    """One tiny two-source ``ImportJob.run`` stays under a ceiling of
    Py4J round trips on the calling thread. Each round trip is driver and
    JVM work that no executor shares, and the count is deterministic,
    unlike a time. Releases on Py4J's finalizer thread are not counted."""
    import threading

    from simpletasks_data_spark.session import count_py4j_round_trips
    from test_importjob_e2e import EXPECTED, make_job

    job = make_job(spark)
    with count_py4j_round_trips(spark) as counts:
        res = job.run()
    calls = counts.get(threading.get_ident(), 0)
    assert res == EXPECTED
    assert calls <= IMPORT_PY4J_CEILING, f"{calls} Py4J round trips"


# Spark jobs of the same import (local[2]): 3 with both sources folded in
# one pass (one aggregation of their rows, one shuffle of the target, the
# checkpoint that also observes the apply-time counters); 10 with one pass
# per source and a separate counter aggregate.
IMPORT_JOB_CEILING = 3


def test_import_spark_job_count(spark):
    """The e2e two-source dry run runs at most ``IMPORT_JOB_CEILING``
    Spark jobs, counted through a job group: one pass shuffles the
    target once, and no counter needs an action of its own."""
    from test_importjob_e2e import EXPECTED, make_job

    sc = spark.sparkContext
    group = "import-job-count"
    job = make_job(spark)
    sc.setJobGroup(group, "two-source import")
    try:
        res = job.run()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert res == EXPECTED
    assert jobs <= IMPORT_JOB_CEILING, f"{jobs} Spark jobs"


def test_passage_dedupe_two_exchanges(spark):
    """Ownership via a window over ONE seg_hash exchange + the final
    per-doc agg — a groupBy+join-back would re-shuffle the segment frame
    on the same key."""
    tree = _tree(_plan(Q.queries()["dedup_passages"](spark, SF)))
    assert tree.count("Exchange") == 2, f"dedup_passages plan changed:\n{tree}"


def test_cms_probe_broadcasts_sketch(spark):
    """The d*w sketch table must broadcast onto the probe side; the
    sketch build itself is one partially-aggregated pass."""
    tree = _tree(_plan(Q.queries()["sketch_cms_heavy_hitters"](spark, SF)))
    assert "BroadcastHashJoin" in tree, f"CMS probe lost its broadcast:\n{tree}"


def test_acid_snapshot_read_is_plain_pruned_scan(spark):
    """A TxnTable snapshot read hands Spark an explicit file list — the
    plan must be an ordinary pruned/pushdown-capable parquet scan with no
    extra exchange introduced by the log layer."""
    import tempfile

    from pyspark.sql import functions as F

    from simpletasks_data_spark.plans.acid import TxnTable

    t = TxnTable(spark, tempfile.mkdtemp(prefix="planshape_acid_"))
    orders = Q.load(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    t.append(orders)
    df = t.read().where(F.col("o_orderkey") > 100).select("o_orderkey")
    plan = _plan(df)
    tree = _tree(plan)
    assert "Exchange" not in tree, f"acid read gained a shuffle:\n{tree}"
    assert "PushedFilters: [IsNotNull(o_orderkey), GreaterThan(o_orderkey,100)]" in plan
    assert "ReadSchema: struct<o_orderkey:bigint>" in plan


# ---------------------------------------------------------------------------
# Full-catalog lint census (dynamic — no inclusion list to rot)
# ---------------------------------------------------------------------------
# Every queries() entry is swept EXCEPT the fixture-writing families,
# whose correctness is pinned end-to-end by their own suites
# (test_importjob_e2e / test_acid / streaming tests / the roundtrip
# oracle rows) and whose result frames are small locals or metadata:
_EXEMPT_PREFIXES = ("merge_", "streaming_", "acid_")
_EXEMPT_SUFFIXES = ("_roundtrip",)

# Declared exact-ground-truth crossJoin baselines: O(q*c) by contract,
# with scalable siblings (IVF / quantized / banded) and sampled query
# sides. Exempt from the CartesianProduct lint ONLY (still checked for
# BatchEvalPython and partitionless windows).
CROSSJOIN_BASELINES = {
    "knn_bruteforce",
    "knn_bruteforce_blas",
    "ann_recall_report",
    "matryoshka_recall_eval",
}


def _census() -> list:
    return [
        n
        for n in sorted(Q.queries())
        if not n.startswith(_EXEMPT_PREFIXES) and not n.endswith(_EXEMPT_SUFFIXES)
    ]


# name -> (formatted plan string, [partitionless windows]) — built once,
# shared by both sweep tests (building a query can materialize session
# stores / train models, so the pass is the expensive part).
_SWEEP_CACHE: dict = {}


def _sweep(spark) -> dict:
    if not _SWEEP_CACHE:
        q = Q.queries()
        for name in _census():
            df = q[name](spark, SF)
            _SWEEP_CACHE[name] = (_plan(df), partitionless_windows(df))
    return _SWEEP_CACHE


def test_plan_lint_no_antipatterns(spark):
    """Automated anti-pattern sweep over the WHOLE catalog (minus the
    fixture-writing exempt families): no CartesianProduct (except the
    declared crossJoin baselines), no row-at-a-time Python UDF
    (BatchEvalPython) anywhere — pandas UDFs (ArrowEvalPython /
    MapInPandas) are the sanctioned Python boundary."""
    bad = {}
    for name, (plan, _) in _sweep(spark).items():
        hits = [
            p
            for p in ("CartesianProduct", "BatchEvalPython")
            if p in plan
            and not (p == "CartesianProduct" and name in CROSSJOIN_BASELINES)
        ]
        if hits:
            bad[name] = hits
    assert not bad, f"anti-patterns crept into plans: {bad}"




# The tokenizer's regex (``functions/text.py::normalize_text``): each copy
# in a plan is one more regex chain per row. A query's formatted plan may
# hold at most TOKENIZER_MAX_COPIES of it: 11 in weighted_sample_quality,
# whose sampling filter is pushed below the projection of its token array
# with the aliases substituted in. When each text function tokenized its
# own input, text_langid's plan held 108.
TOKENIZER = "[^a-z0-9 ]"
TOKENIZER_MAX_COPIES = 11


def test_plan_lint_tokenizer_copies(spark):
    """No catalog query's plan holds more than ``TOKENIZER_MAX_COPIES``
    copies of the tokenizer."""
    copies = {name: plan.count(TOKENIZER) for name, (plan, _) in _sweep(spark).items()}
    bad = {n: c for n, c in copies.items() if c > TOKENIZER_MAX_COPIES}
    assert not bad, f"plans re-tokenize the text: {bad}"


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_text_langid_tokenizes_once(spark):
    """Language ID reads one projected token array (108 copies of the
    tokenizer when each of its scores tokenized the text)."""
    plan = _optimized(Q.queries()["text_langid"](spark, SF))
    assert plan.count(TOKENIZER) == 1, plan


def test_pipeline_checkpoint_tokenizes_at_most_twice(spark, monkeypatch):
    """The frame ``pipeline_pretraining_corpus`` checkpoints holds the
    tokenizer at most twice: the projected token array and the pushed-down
    ``>= 3 tokens`` gate. With language ID and fingerprint tokenizing the
    text themselves and the 'und' filter pushed below the language
    projection, it held 219 copies in a 54k-character plan."""
    from pyspark.sql.classic.dataframe import DataFrame

    frames = []
    checkpoint = DataFrame.localCheckpoint
    monkeypatch.setattr(
        DataFrame,
        "localCheckpoint",
        lambda self, *a, **k: frames.append(self) or checkpoint(self, *a, **k),
    )
    Q.queries()["pipeline_pretraining_corpus"](spark, SF)
    assert frames, "the pipeline no longer checkpoints its dedup frame"
    copies = [_optimized(f).count(TOKENIZER) for f in frames]
    assert max(copies) <= 2, copies


# Queries whose partitionless windows run over a frame BOUNDED by
# construction (never row-scaled) — each entry names the bounding frame.
GLOBAL_WINDOW_ALLOWLIST = {
    # cumulative CDF over floor(price/1000) buckets: bounded price grid
    "ks_test_price_by_segment",
    # cumulative EMD flow over the same bounded price-bucket grid
    "emd_price_by_segment",
    # PSI deciles: windows over the 10-bucket grid
    "feature_drift_psi",
    # date-spine interpolation: windows over the distinct-day grid
    "interpolate_daily_revenue",
    # KM curve: windows over the distinct-event-day grid
    "survival_km_first_purchase",
    # sampling temperature: windows over the ~5-language mixture frame
    "temperature_mixture_langs",
    # budget selection: cumulative over the 10001-bucket quality
    # histogram (the boundary-bucket top-off window is _bk-partitioned)
    "token_budget_selection",
    # BH step: rank/count windows over the 25-row nation frame
    "bh_fdr_urgent_nations",
    # cumulative gains over the 10-row decile frame
    "lift_deciles_urgent",
    # rolling 7-day forecast windows over the distinct-day grid
    "rolling_origin_backtest",
    # prefix-sum / row_number windows over the distinct-day grid
    "changepoint_daily_revenue",
    # support-decile threshold: one cumulative window over the bounded
    # co-supply support-VALUE grid (a few hundred distinct counts)
    "link_prediction_suppliers",
    "graph_degree_assortativity",
    "adamic_adar_suppliers",
    # day-index + lag windows over the distinct-day grid
    "ljung_box_daily_revenue",
    # GBDT histogram split search: cumulative windows over the bounded
    # price-bucket / order-year threshold grids (one agg per feature
    # first — the windows never see row-scaled data)
    "boosted_stumps_urgent",
}


def _iter_children(node):
    if node.nodeName() == "AdaptiveSparkPlan":
        return [node.initialPlan()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.length())]


def _subtree_has(node, names):
    if node.nodeName() in names:
        return True
    return any(_subtree_has(c, names) for c in _iter_children(node))


def partitionless_windows(df):
    """WindowExec nodes with an EMPTY partitionSpec in the initial
    physical plan — the whole frame crosses one task — excluding windows
    fed by a rank-limit pushdown (WindowGroupLimit /
    TakeOrderedAndProject), which bound the rows reaching the window."""
    out = []
    bound = ("WindowGroupLimit", "TakeOrderedAndProject")

    def walk(node):
        if (
            node.nodeName() == "Window"
            and node.partitionSpec().isEmpty()
            and not _subtree_has(node, bound)
        ):
            out.append(node.simpleString(80))
        for c in _iter_children(node):
            walk(c)

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_plan_lint_no_partitionless_windows(spark):
    """r5 verdict item 2: sweep the lazily-plannable catalog for
    row-scaled partitionless WindowExec — the single-task funnel class
    that hid five scale-weak queries behind green correctness. Any
    query not in GLOBAL_WINDOW_ALLOWLIST (bounded-grid windows, each
    with its bounding frame named) must plan ZERO of them; the five
    migrated queries (auc/kfold/conformal/revenue_concentration/
    skew_diagnosis) and the pareto skyline now ride the
    operators/ranking kernels instead. Since round 7 the census is the
    WHOLE catalog (minus the fixture-writing exempt families), computed
    dynamically — a new query is linted the moment it registers."""
    bad = {}
    for name, (_, wins) in _sweep(spark).items():
        if name in GLOBAL_WINDOW_ALLOWLIST:
            continue
        if wins:
            bad[name] = wins
    assert not bad, f"row-scaled partitionless windows crept in: {bad}"


def test_tpch_completion_broadcasts_and_pruning(spark):
    """q2/q16/q20: the part filter must broadcast into the single lineitem
    scan (no shuffle join against the fact side) and the scan must prune
    to the columns the query touches."""
    plan = _plan(Q.queries()["q2_min_cost_supplier"](spark, SF))
    tree = _tree(plan)
    assert tree.count("BroadcastHashJoin") == 3, tree  # part, supplier, nation
    assert (
        "ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint,l_quantity:double,l_extendedprice:double>"
        in plan
    ), plan
    for name in ("q16_supplier_cnt", "q20_concentrated_suppliers"):
        # Post r7-item-1 (bounded-broadcast rule) the SF-scaled part/supplier
        # frames carry no hint: the fact-side filter join still broadcasts
        # off file stats at this SF, while dim-dim joins may statically SMJ
        # and rely on AQE's runtime conversion — so assert the fact join
        # stays broadcast and the plan is adaptive, not hint-forced.
        tree = _tree(_plan(Q.queries()[name](spark, SF)))
        assert "BroadcastHashJoin" in tree, f"{name} lost its broadcast:\n{tree}"
        assert "AdaptiveSparkPlan" in tree, f"{name} not AQE-planned:\n{tree}"


def test_q11_single_lineitem_scan(spark):
    """q11: the scalar threshold must come from the checkpointed agg, not a
    second lineitem scan."""
    plan = _plan(Q.queries()["q11_important_parts"](spark, SF))
    assert "ReadSchema: struct<l_suppkey" not in plan, plan
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan, plan


def test_quantized_rescore_broadcasts_code_table(spark):
    """Stage 1 must broadcast the (8x smaller) code table — the whole point
    of the compressed index — and stage 2's exact join must also broadcast
    (shortlist and candidate fetches are tiny next to the corpus)."""
    tree = _tree(_plan(Q.queries()["knn_quantized_rescore"](spark, SF)))
    assert "BroadcastNestedLoopJoin" in tree or "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree


def test_transition_matrix_normalizes_post_agg(spark):
    """The probability window must run on the aggregated matrix (tiny),
    never on the event rows: exactly one window partitioned by user plus
    one by prev_type, and exactly one data-sized exchange chain (user
    window -> agg reuses / AQE-coalesces; no extra sort on events)."""
    tree = _tree(_plan(Q.queries()["events_transition_matrix"](spark, SF)))
    assert tree.count("Window") == 2, tree
    # events-side: one exchange for the user window, one for the agg, one
    # single-partition exchange for the prev_type window on the matrix.
    assert tree.count("Exchange") <= 3, tree


def test_ngram_lm_counts_single_corpus_shuffle(spark):
    """The corpus-sized shuffle is the gram count agg; the continuation
    agg and join run on the (vocabulary-sized) count table. Pin: the
    text scan appears ONCE, and the continuation side joins broadcast or
    on the already-aggregated frame, never re-exploding the corpus."""
    plan = _plan(Q.queries()["ngram_lm_counts"](spark, SF))
    # the count table is checkpointed: the read-out plan must not touch
    # the corpus text at all, let alone re-explode it
    assert plan.count("ReadSchema: struct<text:string>") == 0, plan
    tree = _tree(plan)
    assert "Generate" not in tree, tree


def test_cdc_chunking_map_only(spark):
    """Content-defined chunking is a per-row array expression — one scan,
    no shuffle, and the scan prunes to (doc_id, text)."""
    plan = _plan(Q.queries()["cdc_chunk_documents"](spark, SF))
    tree = _tree(plan)
    assert "Exchange" not in tree, tree
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_curation_funnel_single_corpus_derivation(spark):
    """The quality+dedup keep frame is checkpointed: the read-out plan may
    scan document text only for the (separate) benchmark shingle set —
    one text scan, not three."""
    plan = _plan(Q.queries()["curation_funnel"](spark, SF))
    assert plan.count("ReadSchema: struct<doc_id:bigint,text:string") == 1, plan


def test_attribution_multitouch_equi_join(spark):
    """The interval condition must ride an equi-join on user_id (hash or
    sort-merge with range residual) — never a nested-loop/cartesian,
    which would go quadratic at scale."""
    tree = _tree(_plan(Q.queries()["attribution_linear_multitouch"](spark, SF)))
    assert "BroadcastNestedLoopJoin" not in tree, tree
    assert "CartesianProduct" not in tree, tree


def test_bm25_scans_corpus_text_once(spark):
    plan = _plan(Q.queries()["bm25_related_docs"](spark, SF))
    text_scans = plan.count("ReadSchema: struct<doc_id:bigint,text:string>")
    assert text_scans <= 1, f"bm25 re-explodes the corpus {text_scans}x"
    assert "BroadcastHashJoin" in plan  # doc-freq + corpus stats broadcast


def test_bm25_df_ceiling_filters_query_tokens(spark):
    """The common-token fan-out bound must survive into the physical
    plan: the query-token side joins a df-filtered token frame
    ((df * 1000) <= permille * N) BEFORE the candidate join, so a
    stopword-grade token never fans out against the corpus."""
    plan = _plan(Q.queries()["bm25_related_docs"](spark, SF))
    assert "* 1000)" in plan, "df-ceiling filter missing from the plan"


def test_containment_verifies_with_array_intersect(spark):
    plan = _plan(Q.queries()["dedup_containment"](spark, SF))
    # exact verification must intersect collected arrays per candidate,
    # never re-explode candidates through a pair x shingle shuffle
    assert "array_intersect" in plan, "containment verify lost the array path"


def test_round3_lazy_queries_no_antipatterns(spark):
    for name in (
        "bm25_related_docs", "supplier_triangles", "robust_outliers_mad",
        "zorder_layout_orders", "dedup_containment", "zipf_token_slope",
        "survival_km_first_purchase", "rolling_7d_active_users",
        "pareto_frontier_suppliers",
    ):
        plan = _plan(Q.queries()[name](spark, SF))
        hits = [p for p in ("CartesianProduct", "BatchEvalPython") if p in plan]
        assert not hits, f"{name}: {hits}"


def test_ntile_queries_have_no_single_partition_window(spark):
    """r4 verdict item 3: the three former global-ntile queries now bin
    via operators/ranking.exact_ntile (range exchange + per-partition
    rank + closed-form bucket) — no partitionless WindowExec, no
    Exchange SinglePartition anywhere in their plans."""
    for name in ("discretize_price_deciles", "zorder_layout_orders",
                 "rfm_customer_segments"):
        plan = _plan(Q.queries()[name](spark, SF))
        tree = _tree(plan)
        assert "Exchange SinglePartition" not in tree, (
            f"{name} funnels through one partition:\n{tree}"
        )
        assert "ntile" not in plan.lower(), (
            f"{name} still plans a window ntile:\n{tree}"
        )


def test_partitioned_read_prunes_at_plan_time(spark):
    """The partitioned-lake query's scan must carry the o_year predicate
    as a PartitionFilter (directory pruning), not a post-scan Filter."""
    df = Q.queries()["partitioned_parquet_prune"](spark, SF)
    plan = _plan(df)
    assert "PartitionFilters" in plan
    seg = plan[plan.index("PartitionFilters"):][:200]
    assert "o_year" in seg, f"o_year not pruned at plan time:\n{seg}"


# --- bounded-broadcast lint (r7 verdict item 1) ------------------------------
# A forced F.broadcast hint overrides Spark's size gate: on a frame that
# grows with the data it turns into a driver collect + executor replication
# of a corpus-sized table at 100x (OOM, not spill). Rule: a hint is allowed
# ONLY on a provably bounded frame, and every site must declare WHICH bound
# applies with an inline `# b: <class>` tag from this vocabulary. Unbounded
# frames get no hint — AQE already broadcasts the small side while it is
# actually small.
BROADCAST_TAG_VOCAB = {
    "1row": "single-row aggregate or literal frame",
    "topk": "<= k rows by construction (limit / top-k / k centroids)",
    "dim": "fixed dimension frame (nation/region/warehouses; documented dim contract)",
    "grid": "bounded category/bucket grid (langs, priorities, dow x hour, brands, cohort weeks)",
    "param": "frame built from Python-literal parameters on the driver",
    "bench": "bounded by the benchmark/eval set, never the corpus",
    "flr": "frequency-floor bound: keep if df >= frac*N caps rows at (1/frac)*avg-per-doc",
    "gated": "row count checked against an explicit cap at runtime before hinting",
    "optin": "caller-controlled API flag with a documented too-big-to-broadcast caveat",
    "eval": "declared exact-baseline eval query over sampled/bounded inputs",
    "delta": "bounded by the incoming micro-batch, not stored state",
}


def test_broadcast_hints_are_declared_bounded():
    """Every F.broadcast( call site in the package must carry an inline
    `# b: <class>` tag naming the bounded shape that justifies overriding
    Spark's size gate. A new hint without a declared bound fails here —
    the mechanical pin for the row-scaled-broadcast anti-pattern class."""
    import ast
    import pathlib
    import re

    pkg = pathlib.Path(Q.__file__).parent
    bad = []
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text()
        lines = src.splitlines()
        for node in ast.walk(ast.parse(src)):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "F"
            ):
                line = lines[node.func.lineno - 1]
                m = re.search(r"#\s*b:\s*(\w+)", line)
                if not m:
                    bad.append(f"{path.name}:{node.func.lineno} untagged hint")
                elif m.group(1) not in BROADCAST_TAG_VOCAB:
                    bad.append(
                        f"{path.name}:{node.func.lineno} unknown bound class "
                        f"{m.group(1)!r}"
                    )
    assert not bad, (
        "F.broadcast hints without a declared bounded shape (see "
        "BROADCAST_TAG_VOCAB):\n" + "\n".join(bad)
    )


def _package_asts():
    import ast
    import pathlib

    pkg = pathlib.Path(Q.__file__).parent
    for path in sorted(pkg.rglob("*.py")):
        yield path.relative_to(pkg).as_posix(), ast.parse(path.read_text())


def test_observations_are_built_only_by_the_helper():
    """``Observation(`` is constructed in exactly one place,
    ``session.observed``, whose reader falls back to an aggregation when
    the optimizer prunes the observation. A hand-rolled gate fails here."""
    import ast

    sites = [
        f"{name}:{node.lineno}"
        for name, tree in _package_asts()
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and "Observation" in (getattr(node.func, "id", None), getattr(node.func, "attr", None))
    ]
    assert len(sites) == 1 and sites[0].startswith("session.py:"), (
        "Observation() built outside session.observed:\n" + "\n".join(sites)
    )


def test_session_memos_go_through_session_store():
    """No module memoizes per session by hand: ``id(...sparkContext)``
    appears nowhere, and only ``session.py`` builds a key that holds a
    SparkContext (the single ``session_store`` dict)."""
    import ast

    def mentions_context(node):
        return any(
            isinstance(n, ast.Attribute) and n.attr == "sparkContext" for n in ast.walk(node)
        )

    bad = []
    for name, tree in _package_asts():
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "id", None) == "id"
                and any(mentions_context(a) for a in node.args)
            ):
                bad.append(f"{name}:{node.lineno} id(...sparkContext) key")
            elif name != "session.py" and isinstance(node, ast.Tuple) and any(
                mentions_context(e) for e in node.elts
            ):
                bad.append(f"{name}:{node.lineno} tuple key over sparkContext")
    assert not bad, "hand-rolled session memo keys:\n" + "\n".join(bad)


def test_functions_read_every_parameter():
    """No module-level function in the package takes a parameter its
    body never reads: an unread parameter is an option that selects
    nothing. Registered catalog queries are exempt, because their
    ``(spark, sf_dir)`` signature is fixed."""
    import ast

    def registered(fn):
        return any(
            isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
            for d in fn.decorator_list
        )

    bad = []
    for name, tree in _package_asts():
        for fn in tree.body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) or registered(fn):
                continue
            a = fn.args
            params = [p.arg for p in a.posonlyargs + a.args + a.kwonlyargs]
            params += [p.arg for p in (a.vararg, a.kwarg) if p is not None]
            read = {
                n.id
                for stmt in fn.body
                for n in ast.walk(stmt)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
            }
            bad += [f"{name}:{fn.lineno} {fn.name}({p})" for p in params if p not in read]
    assert not bad, "parameters no body reads:\n" + "\n".join(bad)


# --- bounded-collect lint (round 8, companion to the broadcast lint) --------
# A .collect()/.toPandas()/.toArrow()/.first() in package code pulls rows onto the
# driver: bounded-size pulls (1-row aggs, k centroids, per-partition
# boundary metadata, runtime-gated exports) are legitimate kernels; an
# unbounded pull is a driver OOM and a non-distributed operator. Every
# site declares its bound with an inline `# c: <class>` tag.
COLLECT_TAG_VOCAB = {
    "1row": "single-row aggregate / limit(1) metadata sniff",
    "topk": "<= k rows by construction (k centroids, k merge steps)",
    "parts": "bounded by the partition/bucket count (a config constant), "
             "times an empty-or-low-cardinality window partitionBy",
    "gated": "row count checked against an explicit cap at runtime",
}


def test_driver_collects_are_declared_bounded():
    """Every driver-side row pull in the package must carry an inline
    `# c: <class>` tag naming the size bound. A new untagged collect
    fails here — the mechanical pin for the collect-loop anti-pattern."""
    import ast
    import pathlib
    import re

    pkg = pathlib.Path(Q.__file__).parent
    bad = []
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text()
        lines = src.splitlines()
        for node in ast.walk(ast.parse(src)):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("collect", "toPandas", "toArrow", "first", "head")
                and not node.args
                and not node.keywords
            ):
                line = lines[node.func.value.end_lineno - 1]
                m = re.search(r"#\s*c:\s*(\w+)", line)
                if not m:
                    # the tag may sit on the call line rather than the
                    # receiver's last line (chained multi-line calls)
                    m = re.search(r"#\s*c:\s*(\w+)", lines[node.end_lineno - 1])
                if not m:
                    bad.append(f"{path.name}:{node.func.value.end_lineno} untagged collect")
                elif m.group(1) not in COLLECT_TAG_VOCAB:
                    bad.append(
                        f"{path.name}:{node.func.value.end_lineno} unknown bound "
                        f"class {m.group(1)!r}"
                    )
    assert not bad, (
        "driver collects without a declared bound (see COLLECT_TAG_VOCAB):\n"
        + "\n".join(bad)
    )


# --- grid double-round lint (round 9) ----------------------------------------
# round(round(x, 6), 4) is a STRUCTURAL cross-engine divergence: a 1e-6
# decimal-grid value like 0.326850 sits exactly ON a 1e-4 half-boundary,
# where Spark's round (HALF_UP over the shortest decimal repr) and a
# binary-value rounder (DuckDB) legitimately disagree — observed live at
# sf0.1 on the knn display cosine. Rule: never re-round a finer decimal
# grid to a coarser one; display values round the RAW expression, and
# grid-to-integer scaling (round(x_grid * 10^grid_digits)) is the one
# safe composition (the value lands ~0.5 away from any tie).
def test_oracles_never_reround_a_finer_grid():
    import re

    bad = []
    for name, sql in Q._ORACLES.items():
        # re-rounding a *_r grid column to fewer digits
        for m in re.finditer(r"round\(\s*(\w+_r)\s*,\s*(\d+)\s*\)", sql):
            bad.append(f"{name}: {m.group(0)} re-rounds grid column {m.group(1)}")
        # nested round(round(x, a) ..., possibly scaled: allowed ONLY when
        # the inner grid is scaled to integers by 10^a before the outer
        for m in re.finditer(r"round\(\s*round\((?:[^()]|\([^()]*\))*,\s*(\d+)\)", sql):
            frag = sql[m.start() : m.start() + 160].replace("\n", " ")
            a = int(m.group(1))
            if f"* {10 ** a}" not in frag.replace("1000000.0", "1000000"):
                bad.append(f"{name}: nested round without 10^{a} scale-out: {frag[:100]}")
    assert not bad, "grid double-rounds in oracle SQL:\n" + "\n".join(bad)


def test_engine_never_rerounds_a_grid_column():
    """Package-wide source lint: F.round applied to a column whose name
    ends in `_r` (the grid-suffix convention) is the same structural
    double-round on the engine side."""
    import pathlib
    import re

    pkg = pathlib.Path(Q.__file__).parent
    bad = []
    pat = re.compile(r"F\.round\(\s*(?:F\.col\()?[\"'](\w+_r)[\"']")
    for path in sorted(pkg.rglob("*.py")):
        for i, line in enumerate(path.read_text().splitlines(), 1):
            m = pat.search(line)
            if m:
                bad.append(f"{path.name}:{i} F.round on grid column {m.group(1)!r}")
    assert not bad, "engine-side grid double-rounds:\n" + "\n".join(bad)


# ---- round-10 section ------------------------------------------------------
# UnboundedFollowing window frames are O(rows^2) per partition: Spark's
# UnboundedFollowingWindowFunctionFrame re-scans current..end for every
# row (only growing / whole-partition / sliding frames are incremental).
# nearest_in_1d's "next" probe was silently quadratic — 12.0 -> 2.9s at
# sf0.1 after moving to last(ignorenulls) over the REVERSED total order
# with a growing frame. Rule: a shrinking frame is allowed only over a
# BOUNDED spine (per-day histograms), each allowlisted here with its
# bound.
def test_no_unbounded_following_frames_on_data_sized_windows():
    import pathlib
    import re

    allow = {
        # survival_km_first_purchase: suffix sum over the <=~400-row
        # per-day duration histogram (d <= observation window)
        "queries.py:w_suffix",
        # timeseries_forward_fill_nation: next-value probe over the
        # per-day spine (bounded by the date range)
        "queries.py:wnext",
        # ib_ops_independent reference twins, if any, stay test-side
    }
    pkg = pathlib.Path(Q.__file__).parent
    bad = []
    # full-text match: the original nearest_in_1d bug spanned lines
    # (`rowsBetween(\n    1, Window.unboundedFollowing\n)`), so a
    # per-line scan would miss it
    pat = re.compile(r"rowsBetween\(\s*([^)]*?unboundedFollowing[^)]*?)\)", re.S)
    for path in sorted(pkg.rglob("*.py")):
        text = path.read_text()
        for m in pat.finditer(text):
            frame = " ".join(m.group(1).split())
            # whole-partition frames (unboundedPreceding..unboundedFollowing)
            # are computed once per partition — incremental, allowed
            if "unboundedPreceding" in frame:
                continue
            line_no = text.count("\n", 0, m.start()) + 1
            # variable being assigned: nearest `name =` looking backwards
            head = text[: m.start()]
            vm = re.findall(r"(\w+)\s*=[^=]", head[-300:])
            var = vm[-1] if vm else "?"
            key = f"{path.name}:{var}"
            if key not in allow:
                bad.append(f"{path.name}:{line_no} shrinking frame '{frame}' "
                           f"(var {var!r}) — O(rows^2) per partition; "
                           "reverse the order and use a growing frame, or "
                           "allowlist with a documented row bound")
    assert not bad, "\n".join(bad)
