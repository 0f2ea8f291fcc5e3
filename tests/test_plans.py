"""Physical-plan audits — the scale contract, checked mechanically:

* filters/pruning reach the parquet scan (PushedFilters / ReadSchema);
* no row-at-a-time PythonUDF in Catalyst hot paths (only Arrow nodes
  where a stage is documented as pandas-based);
* broadcast joins where a small dimension is joined;
* bucketed (conv_id-aligned) joins run without a shuffle exchange.
"""

from __future__ import annotations

import pandas as pd

from dataflow_mm_lrt_spark.contract import EXTRA_QUERIES
from dataflow_mm_lrt_spark.contract import QUERIES as _DRIVER_QUERIES

# plan-shape tests cover demoted (EXTRA) entries too — demotion from the
# driver's 50-row report must not drop plan guarantees
QUERIES = {**_DRIVER_QUERIES, **EXTRA_QUERIES}

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    import contextlib
    import io

    from dataflow_mm_lrt_spark import cache

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    # queries may register scoped persists (_par_scan spread barriers);
    # release per-plan so one query's cache cannot substitute into the
    # next query's plan via the session CacheManager (bench.py does the
    # same between queries)
    cache.release_all()
    return buf.getvalue()


def test_rule_filter_pushes_predicates_and_prunes(spark):
    plan = _plan(QUERIES["rule_filter"](spark, SF_DIR))
    # the narrow single-split fixture scan is spread + persisted
    # (_par_scan) so the 15-rule predicate chain evaluates at cluster
    # width; the filter sits ABOVE that barrier, and the scan below it
    # still prunes to the two consumed columns
    assert "InMemoryTableScan" in plan
    assert "EndsWith" in plan
    # only the two needed columns are read
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_rule_filter_on_wide_scan_pushes_filters_without_barrier(spark, tmp_path):
    """The no-op branch of the spread gate: with at least
    defaultParallelism input files the scan already runs at cluster
    width, so _par_scan adds no persist barrier and the rule predicates
    reach the parquet scan as PushedFilters."""
    p = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.repartition(p).write.parquet(str(tmp_path / "documents.parquet"))
    assert len(spark.read.parquet(str(tmp_path / "documents.parquet")).inputFiles()) >= p
    plan = _plan(QUERIES["rule_filter"](spark, str(tmp_path)))
    assert "InMemoryTableScan" not in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("Not(StringEndsWith(text" in ln for ln in pushed), pushed
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_no_python_udf_in_catalyst_queries(spark):
    for name in ["rule_filter", "text_stats", "dedup_exact", "tumbling_window",
                 "session_window", "cep_funnel", "knn_brute_cosine",
                 "pricing_summary", "dedup_minhash_lsh"]:
        plan = _plan(QUERIES[name](spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name   # row-at-a-time python
        assert "PythonUDF" not in plan, name


def test_small_dim_join_broadcasts(spark):
    plan = _plan(QUERIES["top_customers_per_nation"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_streaming_pipeline_uses_arrow_state_node(spark):
    from dataflow_mm_lrt_spark.streaming.run import PipelineConfig, build_pipeline
    from dataflow_mm_lrt_spark.streaming.source import TRANSCRIPT_SCHEMA

    df = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(SF_DIR + "/../sf0.001")
    # build on a batch frame just to inspect the analyzed plan of the
    # stateless prefix (the stateful op requires a streaming source)
    from dataflow_mm_lrt_spark.streaming.run import clean_stages

    plan = _plan(clean_stages(df.limit(0), PipelineConfig()))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan  # fully native prefix


def test_keep_fraction_has_no_single_partition_sort(spark):
    """Round-1 scale-killer regression: the keep-ratio selection must not
    funnel all rows through one task. The physical plans of the final
    selection stages may not contain a single-partition exchange or a
    global sort (Window over the quantile band key is keyed, fine)."""
    from dataflow_mm_lrt_spark.operators.ranking import keep_top_fraction

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    out = keep_top_fraction(ev, "value", keep_ratio=0.5, tie_col="event_id")
    plan = _plan(out)
    # a partition-less Window.orderBy lowers to Exchange SinglePartition —
    # its absence proves the selection stays distributed
    assert "Exchange SinglePartition" not in plan, plan

    from dataflow_mm_lrt_spark.contract import QUERIES as Q

    plan2 = _plan(Q["knn_uniqueness_filter"](spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan2, plan2


def test_asof_join_is_union_scan_not_theta_join(spark):
    """asof_join must lower to union + keyed window — never a theta join
    (BroadcastNestedLoopJoin / CartesianProduct), whose per-key cross
    product is the scale failure mode it exists to avoid."""
    from dataflow_mm_lrt_spark.contract import QUERIES as Q

    plan = _plan(Q["asof_join"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Union" in plan and "Window" in plan, plan


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """bucket(conv_id) layout alignment: a join of two tables bucketed on
    the same key runs without Exchange on either side."""
    pdf = pd.DataFrame(
        {"conv_id": [f"c{i%50:03d}" for i in range(500)], "v": range(500)}
    )
    df = spark.createDataFrame(pdf)
    # unique names: a stale spark-warehouse dir from a crashed run would
    # otherwise collide on the table LOCATION
    import uuid

    ta, tb = (f"t_{uuid.uuid4().hex[:8]}_a", f"t_{uuid.uuid4().hex[:8]}_b")
    (df.write.bucketBy(8, "conv_id").sortBy("conv_id").mode("overwrite")
       .saveAsTable(ta))
    (df.write.bucketBy(8, "conv_id").sortBy("conv_id").mode("overwrite")
       .saveAsTable(tb))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path (tiny test tables would broadcast);
        # with aligned buckets there must be NO shuffle exchange
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(ta).join(spark.table(tb), "conv_id")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_gemm_brute_corpus_never_shuffles(spark):
    """knn_brute_cosine's scale contract: the corpus streams map-side
    through MapInPandas directly over the scan — any Exchange in the
    plan sits ABOVE the kernel (the tiny top-k window merge), never
    between the scan and the GEMM stage."""
    plan = _plan(QUERIES["knn_brute_cosine"](spark, SF_DIR))
    assert "MapInPandas" in plan
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan
    scan_pos = plan.find("Scan parquet")
    gemm_pos = plan.find("MapInPandas")
    assert scan_pos != -1 and gemm_pos != -1
    seg = plan[min(scan_pos, gemm_pos): max(scan_pos, gemm_pos)]
    assert "Exchange" not in seg  # nothing reshuffles the corpus


def test_gemm_cell_paths_are_python_free_below_window(spark):
    """ann_auto_cells: LSH cell assignment is pure Catalyst projection
    (no Python node below the kernel), the kernel is Arrow-batched, and
    no join operator appears (the equi-restriction moved inside the
    kernel)."""
    plan = _plan(QUERIES["ann_auto_cells"](spark, SF_DIR))
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    assert "Join" not in plan


def test_minhash_lsh_plan_shape(spark):
    """The band self-join must be an equi-join on (band_idx, band_hash)
    with NO cross/nested-loop product, the signature exchange must be
    computed once (ReusedExchange on the self-join's second side, not a
    second full minhash pipeline), and the narrow input must be spread
    to cluster parallelism before the CPU-heavy hashing (VERDICT r4
    item 2 — excludes plan drift as the cause of a bench swing)."""
    df = QUERIES["dedup_minhash_lsh"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # equi-join on the band keys (hash-partitioned SortMergeJoin or
    # ShuffledHashJoin — either is band-bucketed, never all-pairs)
    assert "band_hash" in plan and "band_idx" in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
    # the second side of the self-join must reuse the first side's
    # shuffle — one minhash-signature computation, not two. AQE applies
    # exchange reuse at stage materialization, so assert on the FINAL
    # executed plan (the initial explain always shows duplicate
    # subtrees under AQE).
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final
    assert "CartesianProduct" not in final


def test_spread_is_metadata_only_and_idempotent(spark):
    """Regression for the AQE materialization bug: _spread must never
    touch df.rdd (which executes all upstream stages when the plan has
    an exchange), must be a no-op on already-spread plans, and must
    no-op when the scan has >= parallelism input files."""
    import ast
    import inspect
    import textwrap

    from dataflow_mm_lrt_spark.operators.dedup import _spread

    tree = ast.parse(textwrap.dedent(inspect.getsource(_spread)))
    attrs = {n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)}
    assert "rdd" not in attrs  # code-level check; the docstring may explain it

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    once = _spread(docs)
    twice = _spread(once)
    plan_once = once._jdf.queryExecution().logical().toString()
    plan_twice = twice._jdf.queryExecution().logical().toString()
    assert plan_once.count("Repartition") == 1
    assert plan_twice.count("Repartition") == 1  # idempotent

    # a derived plan (projection over the spread) also no-ops
    derived = _spread(once.select("doc_id"))
    assert derived._jdf.queryExecution().logical().toString().count("Repartition") == 1


def test_phash_hamming_plan_shape(spark):
    """The pHash candidate join must be a chunk-key equi-join (pigeonhole
    buckets) with no cross/nested-loop product — the same discipline the
    minhash plan test enforces (a plan flip to broadcast would recompute
    the decode+hash pipeline into the build side)."""
    df = QUERIES["dedup_phash"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "chunk_idx" in plan and "chunk_val" in plan


def test_ngram_jaccard_plan_shape(spark):
    """PPJoin discipline, pinned (VERDICT r5 item 2 — excludes plan
    drift as the cause of a bench swing, like minhash's test): the
    candidate self-join must be an equi-join on the shingle key
    carrying BOTH length-filter conditions, with no cross/nested-loop
    product, and the prefix index must be computed ONCE and read from
    cache on both sides (a broadcast flip would rebuild the df-count +
    ordered-prefix pipeline into the build side AND be corpus-sized at
    real scale; the merge hint + persisted index forbid it). The
    collect_list in the prefix pipeline is nondeterministic, which
    defeats ReusedExchange canonicalization — so unlike minhash's test
    the single-computation guarantee here is the persisted index, and
    the assertion targets the InMemoryTableScan on both join sides."""
    df = QUERIES["dedup_ngram_jaccard"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final
    # the candidate join: sort-merge on the shingle key, with the PPJoin
    # length filters (n_sh comparisons) and the keep-first ordering
    # (doc_id <) riding along as join conditions
    smj = [
        ln
        for ln in final.splitlines()
        if "SortMergeJoin [shingle" in ln and "n_sh" in ln and "<" in ln
    ]
    assert smj, "candidate join is no longer a shingle-key SortMergeJoin"
    # both sides read the persisted prefix index (columns doc_id, n_sh,
    # shingle), never a recomputed aggregation pipeline
    prefix_scans = [
        ln
        for ln in final.splitlines()
        if "InMemoryTableScan" in ln and "n_sh" in ln and "shingle#" in ln
    ]
    assert len(prefix_scans) >= 2, final[:2000]

    from dataflow_mm_lrt_spark import cache

    cache.release_all()


def test_spread_governing_walk_not_substring(spark):
    """ADVICE r5: the idempotence check must be a plan-node walk, not a
    whole-plan substring match — a column NAME containing 'Repartition'
    must not suppress spreading, and a Repartition buried below an
    aggregation (which resets the distribution) must not either."""
    from dataflow_mm_lrt_spark.operators.dedup import (
        _has_governing_repartition,
        _spread,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    # column named like the node: old substring check would no-op here
    trap = docs.withColumnRenamed("text", "RepartitionNote")
    assert not _has_governing_repartition(trap)
    once = _spread(trap)
    assert _has_governing_repartition(once)  # it really spread
    assert _has_governing_repartition(_spread(once))  # and stays idempotent

    # a repartition BELOW an aggregation no longer governs distribution
    agged = docs.repartition(4).groupBy("lang").count()
    assert not _has_governing_repartition(agged)

    # ...but a repartition seen through partition-preserving unary ops
    # (projection, filter) still does — the idempotence case
    spread_then_narrow = docs.repartition(8).select("doc_id").filter("doc_id > 3")
    assert _has_governing_repartition(spread_then_narrow)
