"""Physical-plan contracts — the 100 TB design rules asserted, not
assumed (SURVEY.md §2.10, BASELINE.md interpretation):

- filters and projections reach the parquet scan (PushedFilters /
  ReadSchema),
- dimension joins broadcast (no shuffle of the big side beyond its agg),
- no accidental cartesian products,
- signature/dedup operators keep to their single planned shuffle.

If a refactor regresses a plan (a filter stops pushing, a dim grows
past the broadcast threshold, a join degenerates to nested-loop), these
tests fail before any benchmark notices.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from incremental_github_data_pipeline_spark.queries import load_all

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def scan_lines(df) -> list[str]:
    """The FileScan lines (one per parquet source) of the initial plan."""
    return [
        line
        for line in plan_of(df).splitlines()
        if "FileScan parquet" in line or "Scan parquet" in line
    ]


def test_q01_pushdown_and_pruning(spark, registry):
    df = registry["q01_pricing_summary"].fn(spark, SF)
    [scan] = scan_lines(df)
    assert "l_shipdate" in scan.split("PushedFilters")[1], "filter must push to scan"
    read_schema = scan.split("ReadSchema")[1]
    assert "l_partkey" not in read_schema, "unused columns must prune"
    assert "l_quantity" in read_schema


def test_q06_all_predicates_push(spark, registry):
    df = registry["q06_forecast_revenue"].fn(spark, SF)
    [scan] = scan_lines(df)
    pushed = scan.split("PushedFilters")[1]
    for c in ("l_shipdate", "l_discount", "l_quantity"):
        assert c in pushed, f"{c} must appear in PushedFilters"


@pytest.mark.parametrize(
    "name",
    ["q03_shipping_priority", "q05_region_volume", "q10_returned_items",
     "q14_promo_revenue", "q18_large_orders"],
)
def test_dim_joins_broadcast(spark, registry, name):
    plan = plan_of(registry[name].fn(spark, SF))
    assert "BroadcastHashJoin" in plan, "dimension joins must broadcast"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _iter_physical_nodes(plan):
    """Depth-first walk of a JVM SparkPlan tree via py4j."""
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))


def _iter_bounded_frontier(plan):
    """Like _iter_physical_nodes, but stops descending at global
    (grouping-key-free) aggregates: their output is ONE row regardless
    of input size, so broadcasting a scalar derived from a fact table
    (q11's threshold, q15's max-revenue, q22's avg-balance) is safe at
    any scale — only a fact scan reachable WITHOUT crossing such a
    bounded node marks a scale-unsafe hint."""
    stack = [plan]
    while stack:
        node = stack.pop()
        if "Aggregate" in node.nodeName():
            try:
                if node.groupingExpressions().isEmpty():
                    continue  # global agg: 1-row output, bounded
            except Exception:
                pass
        yield node
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))


FACT_SCANS = (
    "orders.parquet",
    "customer.parquet",
    "lineitem.parquet",
    # supplier (10k x SF) and part (20k x SF) grow with SF too — the
    # same argument that bans forcing customer bans forcing them; only
    # region (5 rows) and nation (25 rows) are truly bounded.
    "supplier.parquet",
    "part.parquet",
)


@pytest.mark.parametrize(
    "name",
    ["q02_best_supplier", "q03_shipping_priority", "q05_region_volume",
     "q07_volume_shipping", "q08_market_share", "q09_product_profit",
     "q10_returned_items", "q11_important_parts", "q14_promo_revenue",
     "q15_top_supplier", "q16_supplier_part_counts", "q17_small_quantity_revenue",
     "q18_large_orders", "q19_discounted_revenue", "q20_promotion_suppliers",
     "q21_waiting_suppliers"],
)
def test_no_forced_fact_broadcast(spark, registry, name):
    """SF-scaling tables (orders/customer/lineitem/supplier/part) must
    never carry an explicit broadcast hint: a forced hint overrides AQE's
    size check, so at 100× the build side OOMs instead of degrading to a
    shuffle join.

    Technique: disable size-based auto-broadcast (and AQE), so the ONLY
    BroadcastExchange nodes left in the physical plan are hint-forced.
    Then assert no such node has a fact-table scan anywhere below it.
    Bounded dims (region/nation, 1-row scalar frames) may keep their
    hints."""
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        df = registry[name].fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan()
        for node in _iter_physical_nodes(plan):
            if node.nodeName() == "BroadcastExchange":
                # only inspect SCAN nodes still reachable on the bounded
                # frontier — toString() on interior nodes prints the whole
                # subtree including parts pruned below a global aggregate
                for sub in _iter_bounded_frontier(node):
                    if not sub.nodeName().startswith("Scan"):
                        continue
                    scan = sub.toString()
                    for fact in FACT_SCANS:
                        assert fact not in scan, (
                            f"{name}: hint-forced BroadcastExchange over {fact}"
                        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_no_cartesian_anywhere(spark, registry):
    """No query in the registry may plan a cartesian product. (The
    intentional 1-row scalar-threshold cross joins — q22, stats frames —
    broadcast, which is fine; a CartesianProduct node is not.)"""
    for name, spec in registry.items():
        plan = plan_of(spec.fn(spark, SF))
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


def test_keep_last_dedup_single_shuffle(spark, registry):
    plan = plan_of(registry["q_dedup_keep_last"].fn(spark, SF))
    n_exchanges = plan.count("Exchange")
    # one shuffle for the key window; the final orderBy adds a range
    # exchange — anything beyond that is a regression
    assert n_exchanges <= 2, f"expected <=2 exchanges, plan has {n_exchanges}"


def test_metadata_scan_never_reads_payload(spark, registry, tmp_path):
    from incremental_github_data_pipeline_spark.operators.multimodal import (
        make_fake_media,
        metadata_profile,
    )

    path = str(tmp_path / "media")
    make_fake_media(spark, n=16).write.parquet(path)
    [scan] = scan_lines(metadata_profile(spark.read.parquet(path)))
    assert "payload" not in scan.split("ReadSchema")[1]


def test_certification_rotation_names_resolve(registry):
    """Every name in the certification rotation must exist in the
    registry — a typo would silently drop a query out of the driver's
    50-entry correctness window instead of failing loudly."""
    from incremental_github_data_pipeline_spark.queries import _CERTIFY_FIRST

    missing = [n for n in _CERTIFY_FIRST if n not in registry]
    assert not missing, f"rotation names not in registry: {missing}"
    # the rotation must actually fit the driver's snapshot window
    assert len(_CERTIFY_FIRST) <= 50
    # and the registry must begin with exactly the rotation order
    assert list(registry)[: len(_CERTIFY_FIRST)] == list(
        dict.fromkeys(_CERTIFY_FIRST)
    )


def test_zscore_moments_broadcast_fact_never_shuffles(spark, registry):
    """zscore_outliers joins the 3-number moments frame back onto the
    fact scan via broadcast — the events table itself must not be
    exchange-partitioned for the join."""
    plan = plan_of(registry["q_ts_zscore_outliers"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    # the only allowed exchanges: broadcast of the moments + the final
    # tiny per-type aggregate/sort — no hash exchange of the raw scan
    # feeding the join probe side
    probe_side = plan.split("BroadcastHashJoin")[1]
    assert "Scan parquet" in probe_side  # fact feeds the join directly


def test_resample_single_window_shuffle(spark, registry):
    """Gap-fill resample: per-key bounds agg + one window shuffle +
    final sort — the grid explode itself must not add exchanges."""
    plan = plan_of(registry["q_ts_resample_ffill"].fn(spark, SF))
    n = plan.count("Exchange")
    assert n <= 5, f"resample plan grew to {n} exchanges"
    assert "CartesianProduct" not in plan


def test_pagerank_checkpoint_keeps_plan_flat(spark):
    """Per-round localCheckpoint must stop the PageRank plan growing
    with the iteration count (the iterative-lineage discipline)."""
    from incremental_github_data_pipeline_spark.operators.graph import (
        pagerank_integer,
    )

    e = spark.createDataFrame(
        [(i, (i + 1) % 50) for i in range(50)], "src long, dst long"
    )
    p2 = pagerank_integer(e, 50, iters=2)
    p6 = pagerank_integer(e, 50, iters=6)
    s2, s6 = len(plan_of(p2)), len(plan_of(p6))
    assert s6 < s2 * 3, f"plan grows with iterations: {s2} -> {s6}"


def test_seasonal_anomaly_checkpoint_kills_fact_rescans(spark, registry):
    """VERDICT r9 #1: q_ts_seasonal_anomaly's decomposition feeds three
    lanes; without materialization each lane replayed the fact scan +
    window + aggregate (8 parquet scans in the audited r9 plan). With
    dec/devs localCheckpointed the final plan must read the fact zero
    times (only checkpoint RDDs) and stay shallow."""
    plan = plan_of(registry["q_ts_seasonal_anomaly"].fn(spark, SF))
    n_scans = plan.count("Scan parquet")
    assert n_scans == 0, f"fact re-scans regressed: {n_scans} parquet scans"
    n = plan.count("Exchange")
    assert n <= 6, f"seasonal-anomaly plan grew to {n} exchanges"


def test_forecast_composite_checkpoint_kills_fact_rescans(spark, registry):
    """r10: q_ts_forecast_seasonal's decomposition feeds the Holt
    lane, the last-phase lane and the seasonal table — checkpointed
    once, so the final plan must read the fact zero times and stay
    shallow (the q_ts_seasonal_anomaly discipline)."""
    plan = plan_of(registry["q_ts_forecast_seasonal"].fn(spark, SF))
    assert plan.count("Scan parquet") == 0
    n = plan.count("Exchange")
    assert n <= 8, f"forecast plan grew to {n} exchanges"


@pytest.mark.parametrize(
    "name", ["q_doc_contained", "q_doc_allpairs_join"]
)
def test_doc_join_checkpoint_kills_fact_rescans(spark, registry, name):
    """VERDICT r10 #1/#2: the containment and allpairs joins feed many
    lanes (gram postings a/b sides, gram counts, verify text joins,
    the short-doc lane) from one tokenized frame; without
    materialization each lane replayed the documents scan — 16 parquet
    scans apiece in the audited r10 plans, the dominant cost at scale.
    With the base/token frames localCheckpointed the final plan must
    read the fact zero times and stay shallow."""
    plan = plan_of(registry[name].fn(spark, SF))
    n_scans = plan.count("Scan parquet")
    assert n_scans == 0, f"fact re-scans regressed: {n_scans} parquet scans"
    n = plan.count("Exchange")
    assert n <= 16, f"{name} plan grew to {n} exchanges"


def test_equidepth_no_single_partition_stage(spark, registry):
    """VERDICT r4 #1: the equi-depth histogram must not funnel every row
    through one task. The two-pass rank keeps every stage as parallel as
    the partition count — no SinglePartition exchange, no global-order
    Window node anywhere in the plan."""
    plan = plan_of(registry["q_equidepth_buckets"].fn(spark, SF))
    assert "SinglePartition" not in plan, "single-partition stage regressed"
    assert "Window" not in plan, "global-order window regressed"


@pytest.mark.parametrize(
    "name",
    [
        "q_doc_allpairs_join",
        "q_doc_minhash_join",
        "q_doc_contained",
        # r5: dedup_against_corpus hint-forced the batch gram set and
        # died at the 100x sweep; AQE-sized now — keep it that way
        "q_doc_incremental_dedup",
    ],
)
def test_heavy_doc_joins_no_forced_broadcast(spark, registry, name):
    """The round-4 heavy similarity joins claim (docstrings) that no
    corpus-sized side is ever hint-broadcast and no cartesian appears.
    Assert it: with size-based auto-broadcast and AQE off, any surviving
    BroadcastExchange is hint-forced — none may sit over a documents
    scan reachable without crossing a bounded (global-agg) node."""
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        df = registry[name].fn(spark, SF)
        plan_str = plan_of(df)
        assert "CartesianProduct" not in plan_str
        assert "BroadcastNestedLoopJoin" not in plan_str
        plan = df._jdf.queryExecution().executedPlan()
        for node in _iter_physical_nodes(plan):
            if node.nodeName() == "BroadcastExchange":
                for sub in _iter_bounded_frontier(node):
                    if not sub.nodeName().startswith("Scan"):
                        continue
                    assert "documents.parquet" not in sub.toString(), (
                        f"{name}: hint-forced broadcast of the corpus"
                    )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_plan_audit_covers_registry(registry):
    """PLANS.md (the auto-generated physical-plan audit) must carry one
    row per registered query — a registry addition without a plan-audit
    refresh leaves the scale evidence stale (r6/r7 verdicts caught this
    drift at 165/167)."""
    import re

    with open(Path(__file__).resolve().parents[1] / "PLANS.md") as fh:
        text = fh.read()
    rows = {
        m.group(1)
        for m in re.finditer(r"^\| (q\w+) \|", text, flags=re.M)
    }
    missing = sorted(set(registry) - rows)
    extra = sorted(rows - set(registry))
    assert not missing, f"PLANS.md missing rows for: {missing}"
    assert not extra, f"PLANS.md rows for unregistered queries: {extra}"


@pytest.mark.parametrize(
    "name,max_exch",
    [
        # bounds = today's raw Exchange substring count (shuffle +
        # broadcast) + 1 headroom; pre-fix these plans sat at 19/25
        ("q_kmv_jaccard", 10),
        ("q_graph_link_pred", 9),
        ("q_kmv_distinct", 8),
    ],
)
def test_sketch_and_wedge_frames_materialized_once(
    spark, registry, name, max_exch
):
    """r11 plan pins: kmv_jaccard consumes its sketch four ways and
    link_prediction its undirected edge set three ways — before the
    checkpoint-once fix the audited plans re-derived the upstream scan
    per lane (19/25 exchanges). The materialized frames are bounded by
    construction (groups x k sketch rows / edge and node sets), so the
    serving plans must stay shallow and scan the fact at most once
    (kmv_distinct's exact-count comparison lane)."""
    plan = plan_of(registry[name].fn(spark, SF))
    n_scans = plan.count("Scan parquet")
    assert n_scans <= 1, f"{name}: {n_scans} parquet scans"
    n = plan.count("Exchange")
    assert n <= max_exch, f"{name} plan grew to {n} exchanges"
