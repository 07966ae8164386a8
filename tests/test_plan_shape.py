"""Physical-plan shape gates (SURVEY.md §3/§4: pin the expected plan).

These don't execute data — they compile plans and assert the properties
that matter at 100 TB: filters and projections reach the parquet scan,
small dimensions broadcast, top-k plans as TakeOrderedAndProject, the
extraction job has at most ONE exchange and exactly ONE Python stage, and no
row-at-a-time Python evaluation exists anywhere in the surface.
"""

from __future__ import annotations

import math
import os
import re

import pytest

from ocr_spark.plans import registry

registry.load_all()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_scan_filter_prune_pushdown(spark, sf_dir):
    plan = _formatted(registry.QUERIES["scan_filter_prune"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    # non-empty pushdown: at least one filter reached the scan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), "no filters pushed to parquet scan"
    # projection pruned to the 3 selected columns + filter columns
    rs = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_comment" not in rs and "l_partkey" not in rs


def test_join_broadcast_plans_bhj(spark, sf_dir):
    plan = _plan(registry.QUERIES["join_broadcast"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_topk_plans_take_ordered(spark, sf_dir):
    plan = _plan(registry.QUERIES["sort_limit_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    plan = _plan(registry.QUERIES["join_bucketed"](spark, sf_dir))
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    # no shuffle between the SMJ and its bucketed scans (the only
    # Exchange allowed is the downstream groupBy on a different key)
    below_smj = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in below_smj, f"bucketed join still shuffles:\n{below_smj[:800]}"


def test_extract_stage_single_exchange_single_python_stage(spark):
    from ocr_spark.operators.extract import extract_stage
    from ocr_spark.operators.skew import bucket_clustered_repartition, with_bucket
    from ocr_spark.plans.pipeline import balanced_extract
    from ocr_spark.sources.corpus import generate_interleaved

    docs = with_bucket(generate_interleaved(spark, 10, seed=1, partitions=2))
    # the bare stage, and the job's balanced extract on the default path
    for df in (extract_stage(bucket_clustered_repartition(docs, 4)),
               balanced_extract(docs, num_partitions=4)):
        plan = _plan(df)
        assert plan.count("Exchange") == 1, f"expected exactly 1 shuffle:\n{plan}"
        assert plan.count("MapInPandas") >= 1
        # E3–E7 are fused: exactly one Python stage in the extract chain
        # (corpus generation itself adds one more upstream of the exchange)
        post_exchange = plan.split("Exchange", 1)[0]
        assert post_exchange.count("MapInPandas") == 1


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "dedup_ngram_jaccard"])
def test_gram_build_reused_not_recomputed(name, spark, sf_dir):
    """The dedup queries reference the gram-set frame 3x (inverted index
    + two verification re-attach sides).  The exchange boundary above the
    gram expression must make Spark REUSE the built grams (ReusedExchange
    in the plan) instead of re-running the 3-gram construction per
    subtree — at 100 TB that's the difference between one and three full
    gram-build passes.  AQE resolves exchange reuse at runtime, so the
    query must execute before the final plan shows it."""
    df = registry.QUERIES[name](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, f"gram build recomputed per consumer in {name}"


def test_chunked_balanced_extract_two_exchanges_single_python_stage(spark):
    """The chunk path plans the (bucket, chunk_id) exchange, the fused
    stage, and one bucket exchange that both restitches the chunks and
    clusters the sink — the (doc_id, bucket) grouping reuses it."""
    from ocr_spark.config import ExtractConfig
    from ocr_spark.operators.skew import with_bucket
    from ocr_spark.plans.pipeline import balanced_extract
    from ocr_spark.sources.corpus import generate_interleaved

    docs = with_bucket(generate_interleaved(spark, 10, seed=1, partitions=2))
    plan = _plan(balanced_extract(docs, ExtractConfig(chunk_max_spans=8),
                                  num_partitions=4))
    assert plan.count("Exchange") == 2, f"expected exactly 2 shuffles:\n{plan}"
    # the plan prints top-down: the text above the last "Exchange" runs
    # after the first shuffle (corpus generation adds a MapInPandas below)
    after_first = plan.rsplit("Exchange", 1)[0]
    assert after_first.count("MapInPandas") == 1


def _exchange_partitions(plan: str) -> list[int]:
    return [int(n) for n in
            re.findall(r"Exchange hashpartitioning\(.*?, (\d+)\)", plan)]


def _write_docs(path: str, text_bytes: int) -> str:
    """One uncompressed parquet file of one document whose text span
    holds ``text_bytes`` of incompressible text; returns its path."""
    import base64

    import pyarrow as pa
    import pyarrow.parquet as pq

    text = base64.b64encode(os.urandom(text_bytes * 3 // 4)).decode()
    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    pq.write_table(pa.table({
        "doc_id": ["d0"],
        "spans": pa.array([[{"kind": "text", "text": text,
                             "media_ref": None, "offset": 0}]],
                          pa.list_(span)),
    }), path, compression="none")
    return path


@pytest.mark.parametrize("task_bytes", [0.5, 2.5, None])
def test_balanced_extract_sizes_tasks_to_its_input(spark, tmp_path,
                                                   task_bytes):
    """With no num_partitions a wave gets one task per TASK_BYTES of
    input files, at most defaultParallelism; a one-task wave plans no
    exchange at all, a larger one the usual single bucket exchange.
    ``task_bytes`` is the input size in TASK_BYTES; None is half a task
    above defaultParallelism."""
    from ocr_spark.operators.skew import with_bucket
    from ocr_spark.plans.pipeline import TASK_BYTES, balanced_extract

    dp = spark.sparkContext.defaultParallelism
    task_bytes = task_bytes or dp + 0.5
    path = _write_docs(str(tmp_path / "docs.parquet"),
                       int(task_bytes * TASK_BYTES))
    want = min(dp, math.ceil(os.path.getsize(path) / TASK_BYTES))
    assert want == min(dp, math.ceil(task_bytes))
    df = balanced_extract(with_bucket(spark.read.parquet(path)))
    plan = _plan(df)
    assert plan.count("MapInPandas") == 1
    if want == 1:
        assert "Exchange" not in plan and "Coalesce 1" in plan, plan
    else:
        assert _exchange_partitions(plan) == [want], plan


def test_balanced_extract_keeps_default_parallelism_without_sized_input(
        spark, tmp_path):
    """Generated input lists no files, and the chunk path spreads mega-doc
    chunks: both keep defaultParallelism tasks and their exchanges, however
    small the input."""
    from ocr_spark.config import ExtractConfig
    from ocr_spark.operators.skew import with_bucket
    from ocr_spark.plans.pipeline import balanced_extract
    from ocr_spark.sources.corpus import generate_interleaved

    dp = spark.sparkContext.defaultParallelism
    generated = generate_interleaved(spark, 10, seed=1, partitions=2)
    generated.write.parquet(str(tmp_path / "small"))
    small = spark.read.parquet(str(tmp_path / "small"))
    for docs, cfg, exchanges in (
            (generated, ExtractConfig(), 1),
            (small, ExtractConfig(chunk_max_spans=8), 2)):
        df = balanced_extract(with_bucket(docs), cfg)
        plan = _plan(df)
        assert plan.count("Exchange") == exchanges, plan
        assert _exchange_partitions(plan) == [dp] * exchanges, plan


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_no_row_at_a_time_python(name, spark, sf_dir):
    # BASELINE.json:15 — vectorized pandas/Arrow UDFs only, never udf()
    if name in ("streaming_tumbling_window", "streaming_static_join",
                "streaming_stream_stream_join"):
        pytest.skip("streaming query executes on construction")
    plan = _plan(registry.QUERIES[name](spark, sf_dir))
    assert "BatchEvalPython" not in plan, f"row-at-a-time Python UDF in {name}"


def test_funnel_single_exchange_stacked_windows(spark, sf_dir):
    """events_funnel's claim: the three chained conditional window
    minima share one partition spec (user_id), so Catalyst plans ONE
    hash exchange feeding stacked Window nodes, and the final per-user
    aggregation reuses that partitioning — no per-step self-joins, no
    extra shuffles (a k-step join-formulated funnel shuffles k+1
    times)."""
    plan = _plan(registry.QUERIES["events_funnel"](spark, sf_dir))
    assert plan.count("Exchange") == 1, f"expected exactly 1 shuffle:\n{plan}"
    assert plan.count("Window") >= 3  # one node per chained step
    assert "Join" not in plan


def test_bloom_negative_broadcasts_bitmap_not_keys(spark, sf_dir):
    """The corpus probe joins a BROADCAST bitmap (constant-size), and
    the only other join is the candidate verify — the corpus is never
    shuffled against the raw key set."""
    plan = _plan(registry.QUERIES["filter_bloom_negative"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the probe side never sorts/exchanges the corpus on the key set's
    # fingerprint: no SortMergeJoin anywhere in this plan
    assert "SortMergeJoin" not in plan


def test_url_canonicalize_no_exchange_no_python(spark, sf_dir):
    plan = _plan(registry.QUERIES["url_canonicalize"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_substring_window_build_reused(spark, sf_dir):
    """The exploded window-hash frame feeds the df-cap agg and both
    self-join sides; the exchange boundary above it must be REUSED, not
    recomputed per subtree (and the expensive build must run above a
    repartition, not at 2-file scan parallelism)."""
    df = registry.QUERIES["dedup_substring_window"](spark, sf_dir)
    df.collect()  # AQE: reuse markers appear in the FINAL plan
    plan = _plan(df)
    assert "ReusedExchange" in plan or "ReusedQueryStage" in plan


def test_bm25_tokenizes_corpus_exactly_once(spark, sf_dir):
    """text_bm25_topk derives tf, dl, df/qterms AND corpus stats from a
    single tokenize-explode pass: the partial-agg exchange over the
    token stream must be built once and ReusedExchange'd by every other
    branch (the `_pin` tautology in queries_text.py holds the canonical
    subtrees equal).  At 100 TB each extra pass is a full corpus
    re-tokenize — the final plan must contain exactly ONE explode."""
    df = registry.QUERIES["text_bm25_topk"](spark, sf_dir)
    df.collect()  # AQE: reuse markers appear in the FINAL plan
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    final = plan.split("+- == Initial Plan ==")[0]
    assert final.count("Generate explode") == 1, (
        f"corpus tokenized {final.count('Generate explode')}x in bm25"
    )
    assert final.count("ReusedExchange") >= 3


def test_tpch_q5_broadcasts_all_dimensions(spark, sf_dir):
    """Q5's dimensions (region→nation→supplier, customer) must all
    broadcast — the fact table shuffles only for lineitem⋈orders; a
    dimension arriving via SortMergeJoin would shuffle the fact stream
    once per dimension at 100 TB."""
    plan = _plan(registry.QUERIES["tpch_q5"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    # date range pushed into the orders scan
    fmt = _formatted(registry.QUERIES["tpch_q5"](spark, sf_dir))
    assert "o_orderdate" in fmt.split("PushedFilters", 2)[-1][:4000]


def test_unpivot_is_narrow_expand(spark, sf_dir):
    """unpivot must plan as Expand inside the scan stage: no Exchange,
    no Python — each input row fans out to 4 rows in-task."""
    plan = _plan(registry.QUERIES["unpivot_long"](spark, sf_dir))
    assert "Expand" in plan
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_table_profile_single_scan(spark, sf_dir):
    """All per-column stats must come from ONE scan of the table (Spark
    plans multi-countDistinct via Expand + two-stage agg), never one
    pass per column."""
    plan = _plan(registry.QUERIES["table_profile"](spark, sf_dir))
    assert plan.count("FileScan") == 1, (
        f"profile re-scans the table:\n{plan[:1500]}")


def test_rrf_fusion_single_score_pass(spark, sf_dir):
    """Both metric columns (cosine fp + L2 fp) must come from one
    projection over one broadcast join — two scoring passes over the
    candidate set would double the dominant cost at scale."""
    plan = _plan(registry.QUERIES["vec_rrf_fusion"](spark, sf_dir))
    assert plan.count("BroadcastNestedLoopJoin") + plan.count(
        "BroadcastHashJoin") == 1, f"candidate set scored twice:\n{plan[:1500]}"


def test_triangle_count_equi_joins_only(spark, sf_dir):
    """The closure check must probe the canonical edge set as a pure
    equi-join; an OR-of-orientations condition degrades to
    BroadcastNestedLoopJoin — O(wedges x edges) work at scale."""
    plan = _plan(registry.QUERIES["graph_triangle_count"](spark, sf_dir))
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan, (
        f"non-equi join in triangle closure:\n{plan[:1500]}")


def test_sample_fixed_k_take_ordered_pruned(spark, sf_dir):
    """Exactly-k sampling must plan as TakeOrderedAndProject (per-
    partition k-heap + driver merge), never a global Sort, and the scan
    must read only the two projected columns."""
    df = registry.QUERIES["sample_fixed_k"](spark, sf_dir)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, f"global sort:\n{plan[:1200]}"
    fmt = _formatted(df)
    rs = fmt.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "text" not in rs and "title" not in rs, f"unpruned scan: {rs}"


def test_sliding_distinct_in_task_fanout(spark, sf_dir):
    """The x3 window fan-out must happen in-task (one Generate, before
    any exchange) and the exact distinct must two-phase: at most the
    two exchanges of Spark's count-distinct rewrite, no Python."""
    plan = _plan(registry.QUERIES["events_sliding_distinct"](spark, sf_dir))
    assert plan.count("Generate") == 1
    assert plan.count("Exchange") <= 2, f"extra shuffle:\n{plan[:1500]}"
    assert "Python" not in plan


def test_bpe_merge_apply_no_shuffle(spark, sf_dir):
    """Applying a chosen BPE merge is narrow JVM array surgery: the
    merged-corpus token recount must carry no join and no Python; its
    only exchange is the final 1-row global-sum merge."""
    from pyspark.sql import functions as F
    from ocr_spark.plans.queries_data import t

    d = t(spark, sf_dir, "documents")
    cur = d.select("doc_id", F.split(F.trim("text"), " ").alias("ws"))
    sz = F.size("ws")
    ws = F.col("ws")
    xl, yl = F.lit("the"), F.lit("of")
    kept = F.filter(
        F.sequence(F.lit(1), sz),
        lambda i: ~((i >= 2) & (F.element_at(ws, i - 1) == xl)
                    & (F.element_at(ws, i) == yl)))
    merged = F.transform(
        kept,
        lambda i: F.when(
            (i < sz) & (F.element_at(ws, i) == xl)
            & (F.element_at(ws, (i + 1).cast("int")) == yl),
            F.concat(xl, F.lit("_"), yl)).otherwise(F.element_at(ws, i)))
    counted = cur.select("doc_id", merged.alias("ws")).agg(
        F.sum(F.size("ws")))
    plan = _plan(counted)
    assert "Join" not in plan and "Python" not in plan
    assert plan.count("Exchange") <= 1, f"merge-apply shuffles:\n{plan[:1500]}"


def test_tpch_q6_pure_scan_aggregate(spark, sf_dir):
    """Q6 is the pushdown probe: every predicate must reach the parquet
    scan and the whole query is one scan + partial/final agg — exactly
    one exchange, no join."""
    df = registry.QUERIES["tpch_q6"](spark, sf_dir)
    plan = _plan(df)
    assert "Join" not in plan
    assert plan.count("Exchange") == 1, f"extra shuffle:\n{plan[:1200]}"
    fmt = _formatted(df)
    pushed = fmt.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed \
        and "l_quantity" in pushed, f"filters not pushed: {pushed}"


def test_tpch_q19_stays_hash_join(spark, sf_dir):
    """The disjunctive (brand, size, quantity) condition must NOT
    contaminate the join: p_partkey stays the equi key (hash join), the
    OR evaluates as a residual filter."""
    plan = _plan(registry.QUERIES["tpch_q19"](spark, sf_dir))
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan, (
        f"disjunction degraded the join:\n{plan[:1500]}")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_tpch_q4_decorrelates_to_semi_join(spark, sf_dir):
    """The correlated EXISTS must plan as a LEFT SEMI join (stop at
    first match), never a full join + distinct."""
    plan = _plan(registry.QUERIES["tpch_q4"](spark, sf_dir))
    assert "LeftSemi" in plan, f"EXISTS not a semi join:\n{plan[:1200]}"


def test_markov_single_event_scan(spark, sf_dir):
    """Events must be scanned once: the lag window runs a single time
    and the normalization is a window over the aggregated |types|²
    frame, never a second branch recomputing the raw-event window."""
    plan = _plan(registry.QUERIES["events_markov_transitions"](spark, sf_dir))
    assert plan.count("FileScan") == 1, f"events re-scanned:\n{plan[:1500]}"
    assert plan.count("lag(") == 1, f"lag window duplicated:\n{plan[:1500]}"


def test_cms_sketch_probe_broadcasts(spark, sf_dir):
    """The 256-cell sketch must broadcast to the probe side; the build
    is in-task explode + hash agg (exactly one Generate per side)."""
    plan = _plan(registry.QUERIES["agg_cms_heavy_hitters"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan, f"sketch probe shuffled:\n{plan[:1500]}"


def test_degree_distribution_no_window_no_python(spark, sf_dir):
    plan = _plan(registry.QUERIES["graph_degree_distribution"](spark, sf_dir))
    assert "Window" not in plan and "Python" not in plan
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_snapshot_diff_slim_join_no_nlj(spark, sf_dir):
    """The diff must join on the key with hash/merge strategy (never
    nested-loop) and scan each snapshot side once — 3 FileScans total
    (base + the two perturbation branches of snapshot B)."""
    plan = _plan(registry.QUERIES["snapshot_diff"](spark, sf_dir))
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("FileScan") <= 3, f"extra scans:\n{plan[:1500]}"


def test_diag_expectations_fk_anti_joins(spark, sf_dir):
    """FK checks must plan as anti joins (broadcast where the dim is
    small), never full joins + filters."""
    plan = _plan(registry.QUERIES["diag_expectations"](spark, sf_dir))
    assert "LeftAnti" in plan, f"FK check not an anti join:\n{plan[:1500]}"
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_khop_frontier_broadcast_equi_joins(spark, sf_dir):
    plan = _plan(registry.QUERIES["graph_khop_frontier"](spark, sf_dir))
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize("name", ["tpch_q7", "tpch_q8"])
def test_two_role_nation_joins_stay_hash(name, spark, sf_dir):
    """The symmetric nation-pair / market-share queries join the nation
    dim twice under different roles; the pair condition must remain a
    residual filter — every join a hash join, never nested-loop."""
    plan = _plan(registry.QUERIES[name](spark, sf_dir))
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_tpch_q2_min_cost_equality_stays_hash(spark, sf_dir):
    """Q2's decorrelated min-cost rejoin must be an equi join on
    (ps_partkey, ps_supplycost) — hash or broadcast-hash, never a
    nested loop from the double-equality — and every dimension
    (part, supplier⋈nation⋈region) broadcasts."""
    plan = _plan(registry.QUERIES["tpch_q2"](spark, sf_dir))
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan, f"regional prune not a semi join:\n{plan[:1500]}"


def test_tpch_q20_semi_join_chain(spark, sf_dir):
    """Q20's nested IN chain must decorrelate to semi joins (part-name
    prune, final supplier filter) with the per-(part, supp) 1996
    aggregate equi-joined — no nested loops anywhere."""
    plan = _plan(registry.QUERIES["tpch_q20"](spark, sf_dir))
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("LeftSemi") >= 2, f"IN chain not semi joins:\n{plan[:1500]}"


def test_containment_prefix_join_shape(spark, sf_dir):
    """The prefix-filtered candidate join must stay an equi join on the
    int64 gram key with the df attach and per-doc top-p window BEFORE
    the join — no nested loop, no Python, exactly one row_number."""
    plan = _plan(registry.QUERIES["dedup_containment"](spark, sf_dir))
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "Python" not in plan, f"python in containment path:\n{plan[:1200]}"
    assert plan.count("row_number") >= 1


def test_interval_overlap_is_equi_join_not_nlj(spark, sf_dir):
    """The bucketed interval join must plan as a HASH equi-join on the
    week bucket — never a nested-loop/cartesian theta join — with the
    overlap + allocation range predicates evaluated post-probe."""
    plan = _plan(registry.QUERIES["join_interval_overlap"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan)


def test_weighted_median_single_exchange(spark, sf_dir):
    """Window cum-sum and the final MIN agg share the group-key
    partitioning: exactly one Exchange in the whole plan."""
    plan = _plan(registry.QUERIES["agg_weighted_median"](spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "PythonUDF" not in plan


def test_cume_dist_single_exchange(spark, sf_dir):
    plan = _plan(registry.QUERIES["window_cume_dist"](spark, sf_dir))
    assert plan.count("Exchange") == 1


def test_sample_temperature_broadcasts_counts(spark, sf_dir):
    """The per-source count frame joins back by BROADCAST — the corpus
    scan itself is never shuffled (every Exchange sits on the tiny
    counts frame, upstream of the broadcast)."""
    plan = _plan(registry.QUERIES["sample_temperature"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # streamed side = subtree printed between the BHJ node and its
    # BroadcastExchange child: the corpus scan, shuffle-free
    streamed = plan.split("BroadcastHashJoin", 1)[1].split(
        "BroadcastExchange", 1)[0]
    assert "Exchange" not in streamed


def test_gap_islands_single_key_family_no_join(spark, sf_dir):
    """Distinct, rank window, and island agg all hash on user_id — no
    join anywhere in the plan."""
    plan = _plan(registry.QUERIES["events_gap_islands"](spark, sf_dir))
    assert "Join" not in plan
    assert "PythonUDF" not in plan


def test_common_neighbors_equi_wedge_join(spark, sf_dir):
    """The wedge build must be a hash EQUI join on the middle vertex —
    no nested-loop/cartesian — with the pair count map-side
    combinable (partial_count present)."""
    plan = _plan(registry.QUERIES["graph_common_neighbors"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan)
    assert "partial_count" in plan
