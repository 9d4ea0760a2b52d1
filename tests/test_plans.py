"""Physical-plan shape tests — the 100 TB posture, made durable.

Correctness tests say the operators compute the right answer; these say
they compute it with the plan you would want on a 1000-executor cluster:
filters reach the parquet scan, scans read only needed columns, small
dimensions broadcast (no shuffle of the fact table), aggregates combine
map-side before the exchange, and top-k never globally sorts. A
regression here is a scale bug even when results stay correct.

Assertions target explain("formatted") text at sf0.001 — planning only,
nothing executes (except AQE-finalized checks, marked below).
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from quacfka_spark.registry import get_queries

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def plans(spark):
    qs = get_queries()
    cache: dict[str, str] = {}

    def plan(name: str) -> str:
        if name not in cache:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                qs[name](spark, SF).explain("formatted")
            cache[name] = buf.getvalue()
        return cache[name]

    return plan


def read_schemas(plan_text: str) -> list[str]:
    return re.findall(r"ReadSchema: struct<([^>]*)>", plan_text)


def test_q03_filter_pushdown_and_pruning(plans):
    p = plans("q03_filter")
    assert "GreaterThan(l_quantity,45.0)" in p
    assert "EqualTo(l_returnflag,R)" in p
    # projection + filter columns only — not the 16-column lineitem
    (schema,) = read_schemas(p)
    cols = sorted(c.split(":")[0] for c in schema.split(","))
    assert cols == ["l_linenumber", "l_orderkey", "l_quantity", "l_returnflag"]


def test_q07_broadcasts_customer_not_orders(plans):
    p = plans("q07_inner_join")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    # orders-side filter pushed to its scan
    assert "GreaterThan(o_totalprice,200000.0)" in p


def test_q11_multiway_join_is_broadcast_tree(plans):
    """TPC-H Q5 shape: every dimension broadcast, the lineitem fact table
    never shuffles before aggregation, agg combines map-side."""
    p = plans("q11_multiway_join")
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", p)) == 4
    assert "SortMergeJoin" not in p
    assert "partial_sum" in p  # map-side combine before the exchange
    # lineitem scan reads exactly the 3 columns the query needs
    schemas = read_schemas(p)
    li = [s for s in schemas if "l_extendedprice" in s]
    assert li and sorted(c.split(":")[0] for c in li[0].split(",")) == [
        "l_discount",
        "l_extendedprice",
        "l_orderkey",
    ]


def test_q12_theta_join_extracts_equi_key(plans):
    """The p_partkey equi-conjunct must become a hash-join key; only the
    l_quantity > p_size range predicate stays as a residual condition.
    A BroadcastNestedLoopJoin here would be quadratic at scale."""
    p = plans("q12_theta_join")
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p


def test_q15_topk_no_global_sort(plans):
    p = plans("q15_topk")
    assert "TakeOrderedAndProject" in p


def test_q01_count_reads_no_columns(plans):
    """COUNT(*) should prune every column (scan returns row counts)."""
    p = plans("q01_scan_count")
    (schema,) = read_schemas(p)
    assert schema == ""


def test_q04_agg_partial_final(plans):
    p = plans("q04_hash_agg")
    assert "partial_sum" in p or "partial_avg" in p
    # one shuffle for the group-by, one for the final order-by — no more
    assert p.count("Exchange") <= 4  # incl. AQE ShuffleQueryStage echoes


def test_s01_window_agg_partial_final(plans):
    p = plans("s01_tumbling_window")
    assert "partial_" in p


def test_d03_minhash_no_inferred_generate_filter(plans):
    """Regression: inner explode once inferred size(bs)>0 and pushed the
    whole minhash tree below the repartition (ran twice, one task)."""
    p = plans("d03_minhash_lsh")
    filters = re.findall(r"Condition : (.*)", p)
    for cond in filters:
        assert "regexp_extract_all" not in cond


def test_sim01_topk_is_take_ordered(plans):
    """Brute-force cosine top-k must use TakeOrderedAndProject (per-
    partition heap + driver merge), never a global sort of all scores."""
    p = plans("sim01_bruteforce_topk")
    assert "TakeOrderedAndProject" in p


def test_events_scan_prunes_json_props(plans):
    """s01 aggregates counts only — the wide props JSON string must not
    be read from parquet."""
    p = plans("s01_tumbling_window")
    for schema in read_schemas(p):
        assert "props" not in schema


def test_x01_asof_join_is_single_shuffle_window(plans):
    """The as-of join must be the union+window form: one hash exchange
    on user_id plus the final order — never a range join (quadratic
    per-user probing at scale)."""
    p = plans("x01_asof_join")
    assert not re.search(r"\(\d+\) \w*Join", p)  # window carries the join
    assert len(re.findall(r"\(\d+\) Window", p)) == 1
    hash_ex = [x for x in re.findall(r"Arguments: (\w+)partitioning", p) if x == "hash"]
    assert len(hash_ex) == 1  # exactly one hash shuffle (user_id)


def test_q28_one_window_one_exchange(plans):
    """Five navigation functions share one window spec: they must plan
    into a single Window node fed by a single hash-partition Exchange —
    N window functions never cost N shuffles."""
    p = plans("q28_window_nav")
    assert len(re.findall(r"\(\d+\) Window\b", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1


def test_q27_cube_single_expand_single_shuffle(plans):
    """CUBE expands all 4 grouping sets in one Expand node and one
    aggregation shuffle — not one pass per grouping set."""
    p = plans("q27_cube_grouping")
    assert len(re.findall(r"\(\d+\) Expand", p)) == 1
    # one agg exchange + the final sort exchange
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2
    assert "partial_count" in p  # map-side combine survives the Expand


def test_sim04_ivf_single_shuffle_broadcast_probe(plans, spark):
    """IVF ANN over trained cells with IN-ROW assignment (packed
    broadcast centroid array, the sim07/d10 pattern): the ONLY hash
    exchange in the whole query is training's (cell x dim) refine
    aggregate — seed assignment, final assignment, and the probe all
    run in-row with zero argmax exchanges; centroids, probe cells, and
    the query vector all broadcast, and nothing ever joins merge-style."""
    # an earlier test may have executed sim04 and left its trained
    # centroid table persisted — the cached subtree would then appear
    # as InMemoryTableScan and hide training's exchange from the plan
    spark.catalog.clearCache()
    p = plans("sim04_ivf_topk")
    exchanges = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", p)
    keys = sorted(e.split("#")[0] for e in exchanges)
    assert keys == ["cell"], exchanges
    assert "SortMergeJoin" not in p
    assert "partial_avg" in p  # refine combines map-side


def test_q31_decimal_sum_partial(plans):
    p = plans("q31_decimal_agg")
    assert "partial_sum" in p  # decimal agg still combines map-side


def test_x03_band_join_is_equi_never_bnlj(plans):
    """The banded range join must plan as an equi hash join on
    (user_id, bucket) — the bucket-explode rewrite exists precisely so
    the range predicate never degrades to BroadcastNestedLoopJoin /
    CartesianProduct (quadratic per-user probing at scale)."""
    p = plans("x03_range_band_join")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert re.search(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", p)
    assert len(re.findall(r"\(\d+\) Generate", p)) == 1  # 2-bucket explode
    assert "partial_count" in p  # per-click agg combines map-side


def test_q39_lateral_decorrelates_to_group_limit(plans):
    """Spark must decorrelate the LATERAL LIMIT subquery into a
    rank-based group-limit + one equi join — a per-row probe loop
    (nested-loop join) must never reach the physical plan."""
    p = plans("q39_lateral_topn")
    assert "WindowGroupLimit" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_q38_correlated_scalar_decorrelates_to_agg_join(plans):
    """The correlated scalar subquery becomes one shuffled aggregate
    joined back to customer — partial_max proves map-side combine, the
    equi join proves decorrelation happened."""
    p = plans("q38_correlated_scalar")
    assert "partial_max" in p
    assert re.search(r"BroadcastHashJoin|SortMergeJoin", p)
    assert "BroadcastNestedLoopJoin" not in p


def test_q37_interval_frame_single_window_exchange(plans):
    """The RANGE-frame rolling sum costs one hash exchange (user_id)
    plus the final presentation sort — the frame itself is evaluated in
    a single sorted pass, never a self-join."""
    p = plans("q37_range_interval_frame")
    assert len(re.findall(r"\(\d+\) Window\b", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2
    assert not re.search(r"\(\d+\) \w*Join", p)


def test_x04_rollup_single_expand_single_agg_shuffle(plans):
    """Both granularities (hour + day) come out of ONE scan via one
    Expand and one aggregation shuffle — multi-granularity rollups must
    never cost one pass per granularity."""
    p = plans("x04_time_rollup")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Expand", p)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2  # agg + final sort
    assert "partial_count" in p


def test_t05_term_frequency_combines_before_shuffle(plans):
    """Token counts combine map-side after the explode (the exchange
    carries distinct terms per task, not tokens) and the top-50 is
    TakeOrderedAndProject, not a global sort."""
    p = plans("t05_term_frequency")
    assert "partial_count" in p
    assert "TakeOrderedAndProject" in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1


def test_sim05_centroids_aggregate_before_explode(plans):
    """Centroid training must aggregate BEFORE any row explosion: the
    Generate (posexplode to scalars) sits after the final HashAggregate,
    so the exchange carries labels x 64 partials, never N x 64 exploded
    rows."""
    p = plans("sim05_label_centroids")
    assert "partial_avg" in p
    # node ids are leaf-to-root: the explode must sit above the agg
    gen_id = int(re.search(r"\((\d+)\) Generate", p).group(1))
    agg_ids = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", p)]
    assert agg_ids and gen_id > max(agg_ids)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2  # agg + final sort


def test_q40_filtered_aggs_one_pass(plans):
    """Three differently-filtered aggregates cost ONE scan and one
    aggregation exchange with map-side partials."""
    p = plans("q40_filtered_agg")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "partial_count" in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2


def test_q41_unpivot_single_expand_no_scan_union(plans):
    """The melt is one Expand over the aggregate — never a self-union
    of N scans (the UNION ALL formulation the oracle uses)."""
    p = plans("q41_unpivot")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert len(re.findall(r"\(\d+\) Expand", p)) == 1


def test_x05_profile_single_scan_agg_before_explode(plans):
    """All column stats come from ONE scan and one aggregation; the
    explode to long rows happens after the final aggregate (1-row
    input), never before it."""
    p = plans("x05_column_profile")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    # node ids are leaf-to-root: the Generate (explode) must sit above
    # every aggregate
    gen_id = int(re.search(r"\((\d+)\) Generate", p).group(1))
    agg_ids = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", p)]
    assert agg_ids and gen_id > max(agg_ids)


def test_d05_no_collected_block_rows(plans):
    """d05's scale contract: the exact all-pairs path must never pack a
    whole block of vectors into one row (the round-3 design collected
    N/B vectors per row — a row that grows with table size and hits the
    2 GB limit long before 100 TB). The plan must group narrow rows into
    applyInPandas, with no collect_list anywhere."""
    p = plans("d05_embedding_cosine")
    assert "collect_list" not in p
    # grouped-map physical node (applyInArrow since round 6)
    assert "FlatMapGroupsInArrow" in p or "FlatMapGroupsInPandas" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_d07_bucket_local_verify_single_exchange(plans):
    """d07's verify is bucket-local: exactly ONE hashpartitioning
    exchange keyed on (band, sig) feeding one grouped-map node
    (applyInArrow since round 6) — no join, no DISTINCT hash-agg, no
    candidate-pair rows ever shuffled. An all-pairs or nested-loop
    plan would defeat the prefilter's purpose; a reappearing join or
    distinct means the old candidate-materializing shape regressed."""
    p = plans("d07_cosine_lsh_pairs")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    import re as _re

    exchanges = _re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", p)
    band_exchanges = [e for e in exchanges if "band#" in e and "sig#" in e]
    assert len(band_exchanges) == 1, exchanges
    # formatted plans print each node twice (tree line + detail section)
    assert len(_re.findall(r"\(\d+\) FlatMapGroupsIn(?:Arrow|Pandas)", p)) == 1, p
    assert "Join" not in p and "HashAggregate" not in p, p


def test_q42_latest_per_key_group_limit_below_shuffle(plans):
    """Latest-per-key must not shuffle the whole event log: Catalyst's
    WindowGroupLimit runs in Partial mode BELOW the exchange (each map
    task forwards only per-key top-1 candidates) and Final mode above."""
    p = plans("q42_latest_per_key")
    import re as _re

    # partial group-limit node id < its exchange's node id means it sits
    # below the shuffle in the formatted tree; simpler: both modes exist
    assert len(_re.findall(r"WindowGroupLimit", p)) >= 2
    assert "Partial" in p and "Final" in p


def test_q43_two_phase_salt_in_shuffle(plans):
    """The explicit two-phase agg must shuffle on (key, salt) first —
    the hot key spreads over salt_buckets tasks — then merge per key."""
    p = plans("q43_skew_safe_agg")
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", p)
    assert any("__salt" in x for x in parts), parts
    assert len(re.findall(r"\(\d+\) HashAggregate", p)) >= 4  # 2 phases x partial/final


def test_sim06_multi_query_group_limit_below_shuffle(plans):
    """Batched ANN must never shuffle N scored rows: WindowGroupLimit in
    Partial mode below the exchange bounds shuffle volume at
    O(tasks x K x k); the query batch broadcasts (no corpus shuffle)."""
    p = plans("sim06_multi_query_topk")
    assert len(re.findall(r"WindowGroupLimit", p)) >= 2
    assert "Partial" in p
    assert "SortMergeJoin" not in p  # query batch broadcasts


def test_x06_bucketed_plan_has_no_hash_exchange(spark):
    """x06 joins and aggregates over co-bucketed tables: with broadcast
    disabled (the big-big configuration bucketing exists for) the plan
    must contain a SortMergeJoin and ZERO hash exchanges — bucket i of
    both sides meets in task i, and the groupBy reuses the same
    distribution. Only the final presentation sort may repartition."""
    qs = get_queries()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            qs["x06_bucketed_join_agg"](spark, SF).explain("formatted")
        p = buf.getvalue()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
    assert re.search(r"\(\d+\) SortMergeJoin", p), p
    assert "Exchange hashpartitioning" not in p, p


def test_d07_vectors_exchanged_bands_times_only(plans):
    """The single band exchange carries each vector exactly BANDS times
    (the posexplode fan-out) and nothing downstream re-shuffles the
    vector payload — shuffle volume is N x BANDS rows independent of
    candidate count, the property that makes d07 the 100 TB path."""
    p = plans("d07_cosine_lsh_pairs")
    import re as _re

    exchanges = _re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", p)
    # only the one (band, sig) exchange exists at all
    assert len(exchanges) == 1, exchanges
    # and the verify stage is pandas-grouped, not a per-row Arrow UDF
    assert "ArrowEvalPython" not in p, p


def test_sim07_pq_broadcast_and_narrow_exchanges(plans):
    """PQ's scale story: codebook + lookup table + shortlist broadcast
    (the embedding table is never on the build side of a shuffle join)
    and the codeword argmin computed IN-ROW over the packed broadcast
    codebook — array_min in a projection, with NO per-(vec_id, sub)
    argmin exchange and no N x K row explosion. The only shuffles left
    are the Lloyd-round codeword means and the final ADC sum, both
    keyed on narrow (sub, code)/(vec_id) rows; no exchange carries the
    raw embedding column."""
    p = plans("sim07_pq_topk")
    assert "CartesianProduct" not in p
    # in-row argmin: array_min over the packed codebook in a Project
    assert "array_min" in p, p[:500]
    exchanges = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", p)
    # no argmin exchange keyed (vec_id, sub) survives
    assert not any(re.match(r"vec_id#\d+L?, sub#", e) for e in exchanges), exchanges
    # no exchange carries the raw embedding column
    assert all("embedding" not in e for e in exchanges), exchanges


def test_x07_partition_pruning_reaches_scan(plans):
    """The event_type predicate must prune at the DIRECTORY level: the
    parquet scan carries it as a PartitionFilters entry (listing-time
    pruning, zero I/O on other event types), not as a post-scan Filter
    over all partitions."""
    p = plans("x07_partition_pruned_rollup")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m and "event_type" in m.group(1), p[:800]
    # and the agg is partial before the exchange (map-side combine)
    assert "partial_count" in p or re.search(r"HashAggregate.*partial", p)


def test_x13_dynamic_pruning_reaches_scan(plans):
    """x13's fact filter lives in a DIM attribute (category), not a
    literal — the partitioned scan must still prune at the directory
    level via the runtime dynamicpruningexpression (the broadcast dim
    reused as the pruning subquery). A plan that scans all event_type
    partitions and filters after the join reads the whole fact table."""
    p = plans("x13_dynamic_pruned_join")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m and "dynamicpruningexpression" in m.group(1), p[:800]
    # dim rides a broadcast join — the fact side never shuffles pre-agg
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    # partial agg before the (event_type, category) exchange
    assert "partial_count" in p or re.search(r"HashAggregate.*partial", p)
    # scan reads only the join/agg columns, never ts/props/user_id
    for schema in read_schemas(p):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert not cols & {"ts", "props", "user_id", "event_id"}, schema


def test_t13_blocklist_broadcasts_and_prunes_text(plans):
    """The domain blocklist is a broadcast dim (no shuffle of the corpus
    for the filter) and the scan never reads the document body — URL
    filtering touches only (doc_id, source, lang)."""
    p = plans("t13_url_filter")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    for schema in read_schemas(p):
        assert "text" not in schema.split(","), schema


def test_x08_rates_broadcast_no_doc_shuffle(plans):
    """x08's only hashpartitioning exchange is the lang share agg
    (|languages| rows, partial map-side); the keep decision applies via
    broadcast joins — document rows never shuffle."""
    p = plans("x08_mix_resample")
    import re as _re

    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "BroadcastNestedLoopJoin" not in p
    exchanges = _re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", p)
    assert all("doc_id" not in e for e in exchanges), exchanges
    # partial agg before the lang exchange (map-side combine)
    assert "partial_sum" in p or "Partial" in p, p
    # one lang agg + one singleton-window exchange + the final sort — the
    # chained-crossJoin regression recomputed the agg per branch
    # (8 exchanges / 4 corpus scans)
    assert len(_re.findall(r"\(\d+\) Exchange", p)) <= 3, p
    assert len(_re.findall(r"\(\d+\) Scan parquet", p)) == 2, p


def test_t14_lm_counts_aggregate_map_side_no_bnlj(plans):
    """The bigram-LM filter (r14 shape): the MODEL count tables live in
    one checkpointed bounded frame read TWICE (unigram + bigram splits
    — Scan ExistingRDD), the corpus is re-tokenized exactly once for
    scoring plus once for the presentation join (2 parquet scans — a
    third would mean the count frame stopped being materialized), the
    per-doc scoring aggregation keeps its map-side partial, and the
    stats join stays an equi join on the bigram key — a nested-loop
    plan would be quadratic in corpus n-grams."""
    p = plans("t14_lm_perplexity")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    import re as _re

    assert len(_re.findall(r"\(\d+\) Scan ExistingRDD", p)) == 2, p
    assert len(_re.findall(r"\(\d+\) Scan parquet", p)) == 2, p
    # the per-doc scoring count must keep its map-side partial
    assert len(_re.findall(r"partial_count", p)) >= 1, p


def test_t11_single_scan_no_agg_exchange(plans):
    """All four repetition metrics are per-row array folds — the plan
    must contain no aggregation exchange and no join; the only Exchange
    is the presentation sort (plus the CPU-spread repartition on
    under-split scans). The explode->count->join top-bigram shape this
    replaced cost three exchanges."""
    p = plans("t11_repetition_rules")
    import re as _re

    assert not _re.search(r"\(\d+\) \w*Join", p), p
    assert "HashAggregate" not in p, p
    assert len(_re.findall(r"Arguments: hashpartitioning", p)) == 0, p


def test_d10_semdedup_partial_argmax_and_bounded_shuffles(plans, spark):
    """SemDeDup's scale posture: trained centroids broadcast (the tiny
    intentional K-row cross join); BOTH the training seed assignment
    and the multi-probe assignment are IN-ROW over packed centroid
    arrays (no N x K explosion, no argmax exchange anywhere), so the
    only data shuffles are training's (cell) refine aggregate, the
    (cell) exchange feeding the bucket-local pandas verify, and the
    per-vector flag merge — no candidate-pair materialization, no
    all-pairs join anywhere."""
    spark.catalog.clearCache()  # see the sim04 plan test
    p = plans("d10_semdedup")
    # training's refine combines map-side (the round's only aggregate)
    assert "partial_avg" in p, p[:800]
    import re as _re

    exchanges = _re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", p)
    keys = [e.split("#")[0] for e in exchanges]
    assert sorted(keys) == ["cell", "cell", "vec_id"], exchanges
    # the pairwise work is grouped-pandas, never a row-at-a-time UDF
    assert "FlatMapGroupsInPandas" in p or "FlatMapGroupsIn" in p, p[:800]
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_t15_prunes_text_single_groupby_exchange(plans):
    """t15's scale posture: canonicalization never reads the doc body
    (the scan prunes to doc_id/source/lang) and the ONLY hash exchange
    is the canonical-key group-by, with the partial aggregate below it
    (map-side combine on MIN/COUNT)."""
    p = plans("t15_url_canonical_dedup")
    import re as _re

    schemas = _re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all("text" not in s for s in schemas), schemas
    exchanges = _re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", p)
    assert len(exchanges) == 1 and exchanges[0].startswith("canonical"), exchanges
    assert "partial_count" in p or "partial" in p
    assert "Join" not in p


def test_x09_zorder_scan_pushes_both_range_filters(plans):
    """The Z-ordered scan needs no special reader: pruning rides on the
    ORDINARY pushed range filters — both the user_id bounds and the ts
    bounds must reach the parquet scan as PushedFilters, and the scan
    must prune to the queried columns."""
    p = plans("x09_zorder_scan")
    assert "GreaterThanOrEqual(user_id,2)" in p, p[:600]
    assert "LessThanOrEqual(user_id,4)" in p
    assert "GreaterThanOrEqual(ts," in p and "LessThan(ts," in p
    schemas = read_schemas(p)
    assert schemas and all("props" not in s for s in schemas), schemas


def test_q46_single_exchange_partial_moments(plans):
    """q46's whole posture: every bivariate statistic is a single-pass
    co-moment aggregate — ONE hash exchange on the group key with the
    partial aggregate below it, no join, no second scan."""
    p = plans("q46_stats_profile")
    exchanges = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", p)
    assert len(exchanges) == 1 and exchanges[0].startswith("l_returnflag"), exchanges
    assert "partial" in p
    assert "Join" not in p
    (schema,) = read_schemas(p)
    cols = sorted(c.split(":")[0] for c in schema.split(","))
    assert cols == [
        "l_discount", "l_extendedprice", "l_quantity", "l_returnflag",
    ], cols


def test_t16_bm25_is_codegen_scan_plus_topk(plans):
    """BM25's scale shape: scoring is pure codegen (no Python, no
    interpreted HOF over the fixture corpus), the corpus-wide stats are
    a broadcast single row (never a shuffle of the docs), and the
    top-20 is TakeOrderedAndProject — not a global sort."""
    p = plans("t16_bm25_topk")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "TakeOrderedAndProject" in p
    assert "BroadcastNestedLoopJoin" in p  # 1-row stats rides broadcast
    assert "CartesianProduct" not in p
    assert "hashpartitioning" not in p  # docs never hash-shuffle


def test_t17_text_never_shuffles_weights_broadcast(plans):
    """DSIR's scale shape (r13 single-traversal form): the corpus text
    is tokenized/hashed ONCE into the checkpointed (doc_id, source,
    bucket, c) count frame — the train/score plan reads that narrow
    frame (Scan ExistingRDD), never re-runs the gram pipeline — every
    hash exchange carries only ids/buckets/counts, the 64-row weight
    table joins by broadcast, and the fit counts reduce map-side
    (partial_sum of the per-doc counts)."""
    p = plans("t17_dsir_resample")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    for args in re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", p):
        assert "text" not in args and " g#" not in args, args
    assert "BroadcastHashJoin" in p
    assert "partial_sum" in p
    # fit + transform are the TWO consumers of the one materialized
    # count frame; the only parquet scan left is the presentation join
    assert len(re.findall(r"\(\d+\) Scan ExistingRDD", p)) == 2
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1


def test_t18_one_shard_exchange_no_text(plans):
    """The reproducible-shuffle shard map: ONE hash exchange (keyed on
    the shard hash) feeding a shard-local window sort; the scan reads
    only doc_id (the body never shuffles), and the only range exchange
    is the final presentation sort, not the shuffle computation."""
    p = plans("t18_shuffle_shard")
    hashex = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", p)
    assert len(hashex) == 1, hashex
    assert len(re.findall(r"rangepartitioning", p)) <= 1
    for schema in read_schemas(p):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        assert cols == {"doc_id"}, schema


def test_sim08_bounded_candidates_no_cartesian(plans):
    """RRF fusion: both candidate sides are depth-bounded
    (TakeOrderedAndProject), the query vector is broadcast, and the
    fusion never expands to a cartesian product."""
    p = plans("sim08_rrf_hybrid")
    assert p.count("TakeOrderedAndProject") >= 2  # lex top-50, vec top-50
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_x10_compacted_scan_pushes_time_filter(plans):
    """The compacted copy must be read with the ts range pushed to the
    parquet scan — that is what makes the clustered layout prune."""
    p = plans("x10_compact_scan")
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(ts", p), p
    assert re.search(r"PushedFilters: \[[^\]]*LessThan\(ts", p), p


def test_q48_blocked_fuzzy_join_is_equi_hash(plans):
    """The entity-resolution blocking contract: the fuzzy candidate
    space comes from an EQUI join on the block key (hash or broadcast),
    never a cartesian/BNLJ expansion, with the Levenshtein filter
    inside the join stage and the top-k as TakeOrderedAndProject."""
    p = plans("q48_fuzzy_match")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    # the probe side must fan out on the single-file fixture: the whole
    # 25M-pair in-block expansion otherwise runs in ONE task (measured
    # 44s -> 2.7s at sf0.1)
    assert "RoundRobinPartitioning" in p


def test_x11_merge_reuses_partitioning_filters_pushed(plans):
    """Incremental changelog merge: both slice filters reach the scans,
    each slice reduces map-side (partial max-of-struct) before its
    exchange, and the merge re-agg adds ZERO exchange — the union's
    inputs are co-partitioned on user_id so partial+final stack
    directly (exactly 2 hash exchanges total; the 3rd is the output
    orderBy range exchange)."""
    p = plans("x11_changelog_merge")
    assert "LessThan(ts,2024-01-22T00:00)" in p
    assert "GreaterThanOrEqual(ts,2024-01-22T00:00)" in p
    assert "partial_max" in p
    assert len(re.findall(r"hashpartitioning\(user_id", p)) == 2
    assert len(re.findall(r"rangepartitioning\(user_id", p)) == 1
    # latest-wins via agg, not a raw-row window
    assert "row_number" not in p


def test_q51_running_distinct_windows_aggregated_rows_only(plans):
    """The COUNT(DISTINCT) OVER rewrite: every aggregate combines
    map-side, the new-user side broadcasts into the day spine, and the
    running-sum window runs over |types|x|days| AGGREGATED rows — no
    raw-event window (the thing that can't scale)."""
    p = plans("q51_running_distinct")
    assert "partial_min" in p and "partial_count" in p
    assert "BroadcastHashJoin" in p
    assert len(re.findall(r"\(\d+\) Window", p)) == 1
    # the window's input partitioning is the aggregated event_type frame
    assert "hashpartitioning(event_type" in p
    for s in read_schemas(p):  # neither scan reads value/event_id
        assert "value" not in s and "event_id" not in s


def test_x12_gap_fill_generated_spine_single_rollup(plans):
    """Gap fill: the hour spine is GENERATED from the |series|-row span
    agg (one Generate node), the rollup is one partial+final agg on
    (series, bucket), and the forward-fill window runs over the joined
    aggregated frame — raw events are scanned for the rollup and span
    only."""
    p = plans("x12_gap_fill")
    assert len(re.findall(r"\(\d+\) Generate", p)) == 1
    assert "partial_sum" in p and "partial_max" in p
    assert len(re.findall(r"\(\d+\) Window", p)) == 1
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_q52_recursive_cte_plans_union_loop(plans):
    """WITH RECURSIVE compiles to Spark 4's UnionLoop operator (depth-
    bounded iterative plan), with the post-recursion join + aggregate
    as ordinary partial-agged hash operators — no driver-side loop."""
    p = plans("q52_recursive_cte")
    assert "UnionLoop" in p and "UnionLoopRef" in p
    assert "partial_max" in p or "partial_sum" in p


def test_d11_cdc_single_generate_one_digest_window(plans):
    """CDC dedup: boundary detection materializes ONCE below the
    Generate (inlining it into the chunk-slice lambda re-ran the per-
    position hash scan 3-4x — measured), retention is one window
    exchange on the chunk digest, and reassembly is the doc_id
    aggregate — no cartesian, no raw-text second scan."""
    p = plans("d11_cdc_dedup")
    assert len(re.findall(r"\(\d+\) Generate", p)) == 1
    assert len(re.findall(r"\(\d+\) Window", p)) == 1
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    schemas = read_schemas(p)
    assert all(
        sorted(c.split(":")[0] for c in s.split(",")) in
        (["doc_id"], ["doc_id", "text"]) for s in schemas
    )


def test_q49_pruned_scans_one_bucket_exchange(plans):
    """Histogram: both passes over orders read ONLY o_totalprice, the
    1-row bounds aggregate broadcasts (never a shuffle of the fact),
    bucket counts partial-aggregate map-side, and the only hash
    exchange is the |buckets|-row agg."""
    p = plans("q49_histogram")
    for schema in read_schemas(p):
        assert schema == "o_totalprice:double", schema
    assert "partial_min" in p and "partial_count" in p
    assert "BroadcastExchange" in p
    hashex = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", p)
    assert len(hashex) == 1 and "bucket" in hashex[0], hashex


def test_q50_one_group_exchange_partial_agg(plans):
    """Decile table: ONE hash exchange on the group key feeds both the
    NTILE window sort and the decile aggregate (already co-partitioned,
    no second exchange); the agg partial-combines map-side."""
    p = plans("q50_ntile_deciles")
    hashex = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", p)
    assert len(hashex) == 1 and "o_orderpriority" in hashex[0], hashex
    assert "ntile(10)" in p
    assert "partial_count" in p


def test_t19_label_scan_never_reads_text(plans):
    """Split assignment: the label pass reads only (doc_id, source) —
    the body feeds ONLY the contamination subtree; the eval side's
    source filter reaches its scan; contamination set and eval index
    both broadcast (the corpus-side label pass never shuffles)."""
    p = plans("t19_split_assign")
    schemas = read_schemas(p)
    assert any(
        sorted(c.split(":")[0] for c in s.split(",")) == ["doc_id", "source"]
        for s in schemas
    ), schemas
    assert "EqualTo(source,src0)" in p
    assert len(re.findall(r"BroadcastHashJoin", p)) >= 2
    assert "SortMergeJoin" not in p


def test_d12_digest_shuffles_only(plans):
    """Novelty: exactly two hash exchanges — the shingle-digest window
    and the per-doc agg — and the digest exchange carries (dg, doc_id)
    rows, never text; both aggregates partial-combine map-side."""
    p = plans("d12_ngram_novelty")
    hashex = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", p)
    assert len(hashex) == 2, hashex
    assert any("dg" in h for h in hashex) and any("doc_id" in h for h in hashex)
    assert "partial_sum" in p
    for schema in read_schemas(p):
        cols = sorted(c.split(":")[0] for c in schema.split(","))
        assert cols == ["doc_id", "text"], schema


def test_sim09_probes_broadcast_corpus_never_shuffles(plans):
    """Range search: the 1+BITS probe rows broadcast; the corpus side
    joins without ANY hash exchange (bucket-pruned at the scan in an
    IVF layout) and the query-vector filter is pushed down."""
    p = plans("sim09_range_search")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert len(re.findall(r"Arguments: hashpartitioning\(", p)) == 0
    assert "Not(EqualTo(vec_id,0))" in p


def test_m06_shuffled_band_join_pruned_scan(plans):
    """Perceptual-hash near-dup (r14 in-row shape): the band self-join
    is a SHUFFLED join on (band, value) — never a broadcast of the full
    band table (the shape that survives 100 TB) — and its input is the
    checkpointed (doc_id, ahash) frame (Scan ExistingRDD: the in-row
    hash fold computes in the checkpoint job; the fence keeps inferred
    join-key predicates from re-inlining the fold tree). No per-char
    Generate and no aggregation exchange survive in the join plan."""
    p = plans("m06_ahash_neardup")
    assert "ShuffledHashJoin" in p
    assert "BroadcastHashJoin" not in p
    assert "Scan ExistingRDD" in p
    # the hash pipeline no longer explodes per-character rows or pays
    # the two hash-agg exchanges: only the band explode's Generate and
    # the single (j, bv) repartition remain
    import re as _re

    assert "partial_sum" not in p
    hashex = _re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", p)
    assert all("j#" in a or "bv#" in a for a in hashex), hashex


def test_m06_band_exchange_reused_at_runtime(spark):
    """AQE-finalized check (executes at sf0.001): the band self-join's
    second side must resolve to a ReusedExchange of the first — the
    whole hash pipeline computes ONCE per run (the d03 one-exchange
    band-join discipline), not once per join side."""
    import contextlib
    import io

    from quacfka_spark.registry import get_queries

    df = get_queries()["m06_ahash_neardup"](spark, SF)
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "isFinalPlan=true" in p
    assert "ReusedExchange" in p


def test_x14_scd2_single_user_exchange(plans):
    """SCD2 history: the LAG window, run-id window, run aggregation,
    and LEAD close-out all key on user_id — ONE hash exchange reused
    end to end, and LEAD over the aggregated runs frame replaces the
    classic from/to self-join (no Join node at all)."""
    p = plans("x14_scd2_history")
    hashex = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", p)
    assert len(hashex) == 1 and "user_id" in hashex[0], hashex
    assert "Join" not in p
    for schema in read_schemas(p):
        cols = sorted(c.split(":")[0] for c in schema.split(","))
        assert cols == ["event_id", "event_type", "ts", "user_id"], schema


def test_x15_cohort_partial_distinct_below_shuffle(plans, spark):
    """Cohort retention: the event stream reduces via the map-side
    (user_id, wk) dedup aggregate BELOW the first exchange — every
    exchange carries deduped narrow rows, never raw events — and the
    cohort-size join broadcasts."""
    p = plans("x15_cohort_retention")
    assert "BroadcastHashJoin" in p and "CartesianProduct" not in p
    for schema in read_schemas(p):
        cols = sorted(c.split(":")[0] for c in schema.split(","))
        assert cols == ["ts", "user_id"], schema
    # toString prints deepest-last: the text below the LAST exchange
    # (nearest the scan) must hold the dedup HashAggregate
    df = get_queries()["x15_cohort_retention"](spark, SF)
    tree = df._jdf.queryExecution().executedPlan().toString()
    below_last_ex = tree.split("Exchange hashpartitioning")[-1]
    assert "HashAggregate" in below_last_ex and "FileScan" in below_last_ex


def test_t20_gd_chain_zero_hash_exchanges(plans):
    """Distilled-classifier training: every GD step joins the broadcast
    1-row weight frame (BroadcastNestedLoopJoin x STEPS + 1 for
    scoring) and aggregates the O(d) gradient with map-side partials —
    the whole train+score plan has ZERO hash exchanges; no data row
    ever shuffles."""
    p = plans("t20_distill_classifier")
    assert len(re.findall(r"Arguments: hashpartitioning\(", p)) == 0
    # formatted explain shows each node in tree + details: count the
    # "(n) Node" detail headers for the true node count
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)) == 4
    # r13: the (doc_id, x1..x3, y) feature frame is checkpointed once —
    # the 3 GD steps and the scoring pass each read the materialized
    # narrow frame (Scan ExistingRDD), and the 3-regex feature
    # extraction never re-executes: ZERO parquet scans in train+score
    assert len(re.findall(r"\(\d+\) Scan ExistingRDD", p)) == 4
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 0


def test_t21_auc_single_histogram_exchange(plans):
    """AUC via the grouped-histogram identity: ONE hash exchange (the
    per-4dp-score counts, partial-agg below it); the cumulative window
    runs on the <=10001-row aggregated frame, never a global row-level
    rank over N scores."""
    p = plans("t21_distill_auc")
    hashex = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", p)
    assert len(hashex) == 1 and "score" in hashex[0], hashex
    assert "partial_sum" in p


def test_sim10_three_narrow_exchanges_grouplimit_below_shuffle(plans):
    """k-NN graph: exactly three hash exchanges — the (band, sig)
    vector shuffle, the (i, j) cross-band merge, and the per-source
    window — with partial MAX below the merge exchange and
    WindowGroupLimit in Partial mode below the window exchange (each
    map task pre-trims to k). Never a join, never a cartesian: the
    quadratic term lives inside the bucket's numpy block."""
    p = plans("sim10_knn_graph")
    hashex = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", p)
    assert len(hashex) == 3, hashex
    assert any("band" in h and "sig" in h for h in hashex)
    assert any("i#" in h and "j#" in h for h in hashex)
    assert "partial_max" in p
    assert "Partial" in p and "WindowGroupLimit" in p
    assert "Join" not in p and "Cartesian" not in p
    for schema in read_schemas(p):
        cols = sorted(c.split(":")[0] for c in schema.split(","))
        assert cols == ["embedding", "vec_id"], schema


def test_s08_stream_static_join_broadcasts_dim(plans):
    """S8 stream-static enrichment: the customer dimension must be
    BROADCAST — the fact (events) side never shuffles for the join,
    mirroring Spark's actual stream-static execution where the static
    side replicates into each micro-batch. The only exchange allowed
    is the window/segment aggregation's partial->final shuffle."""
    p = plans("s08_stream_static_enrich")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    # two shuffles only: the aggregation's hash exchange + the
    # presentation sort's range exchange (BroadcastExchange excluded)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2
    assert len(re.findall(r"Arguments: hashpartitioning\(", p)) == 1
    # map-side combine before the agg exchange
    assert "partial_count(1)" in p


def test_x17_bloom_filter_prunes_fact_before_exchange(spark):
    """x17's scale claim: under the runtime bloom-filter thresholds a
    bloom built from the filtered orders side is injected into the
    lineitem scan stage as bloom_filter_might_contain, BELOW the fact
    join exchange — non-joining fact rows never shuffle. The MERGE
    hint must hold (SortMergeJoin, the beyond-broadcast dim case) and
    the bloom aggregate must hash the join key."""
    qs = get_queries()
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # fixture-scale overrides pinning the at-scale configuration:
        # the 10 GB default application-side threshold embodies "only
        # when the fact scan is big", and the rule only fires when the
        # creation side is beyond-broadcast (canBroadcastBySize false),
        # so disable broadcast exactly like the x06 big-big test
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            qs["x17_bloom_join"](spark, SF).explain("formatted")
        p = buf.getvalue()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert re.search(r"\(\d+\) SortMergeJoin", p), p
    # physical plans print the probe as might_contain(subquery...) and
    # the creation side as bloom_filter_agg(xxhash64(o_orderkey ...))
    assert "might_contain" in p, p
    assert "bloom_filter_agg" in p, p
    # the might_contain probe must sit on the lineitem (fact) subtree:
    # it hashes l_orderkey, not the creation-side o_orderkey
    probe = [ln for ln in p.splitlines() if "might_contain" in ln]
    assert any("l_orderkey" in ln for ln in probe), probe


def test_m06_m07_no_candidate_pair_exchange(plans):
    """m06/m07's min-band emission (the d07 trick as integer codegen):
    cross-band dedup must be the first-agreeing-band FILTER on the
    joined row, never a DISTINCT — so no exchange and no hash-agg ever
    keys on the candidate pair (da, db). A reappearing pair-keyed
    exchange means the old candidate-materializing DISTINCT regressed."""
    import re as _re

    for key in ("m06_ahash_neardup", "m07_dhash_neardup"):
        p = plans(key)
        pair_ex = [
            e
            for e in _re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", p)
            if "da#" in e or "db#" in e
        ]
        assert pair_ex == [], (key, pair_ex)
        assert "bit_count" in p, key  # hamming verify stays codegen


def test_int8_band_exchange_ships_tinyint(plans):
    """The int8 verify payload's footprint win (r11: 20.3 GB measured
    band exchange vs the >100 GB float death at the 4.5M S=16 notch)
    lives in hours-long probe runs no CI can repeat — this pins the
    exchange SHAPE so a silent re-widening (an accidental double cast
    landing before the band shuffle) is caught at plan time, not at
    the next true-notch run (r11 verdict #4). For both int8 keys
    (d07q pairs, sim10q top-k): the pre-shuffle projection must carry
    the round(127*x/||v||) -> tinyint transform, the band exchange
    must be the single (band, sig) hashpartitioning, and no
    array<double> may appear anywhere in the plan (the only array the
    kernel ever sees is the tinyint payload; the scan's float32
    embedding feeds sigs and the quantizer only)."""
    import re as _re

    for key in ("d07q_int8_verify_pairs", "sim10q_int8_knn_graph"):
        p = plans(key)
        # the quantization runs as ONE vectorized Arrow pass BELOW the
        # band exchange (functions/vector.with_int8_embedding — the
        # Catalyst transform re-evaluated the norm fold per element and
        # per banded replica, r12): MapInArrow present, planned under
        # the grouped-map kernel
        quant = _re.search(r"\((\d+)\) MapInArrow", p)
        kernel = _re.search(r"\((\d+)\) FlatMapGroupsIn(?:Arrow|Pandas)", p)
        assert quant and kernel, (key, bool(quant), bool(kernel))
        assert int(quant.group(1)) < int(kernel.group(1)), key
        # exactly one band exchange feeds the grouped-map kernel
        exchanges = _re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", p)
        band_exchanges = [
            e for e in exchanges if "band#" in e and "sig#" in e
        ]
        assert len(band_exchanges) == 1, (key, exchanges)
        # no re-widening: a double-array cast anywhere would ship 8x
        # the bytes through the salted exchange
        assert "array<double>" not in p, key
        # the scan itself stays float32 (sigs + quantizer input);
        # read_schemas truncates at the nested '>' so match the open
        assert any(
            "embedding:array<float" in s for s in read_schemas(p)
        ), (key, read_schemas(p))


def test_band_exchange_payload_columns(plans):
    """The one (band, sig) exchange carries exactly the columns its
    bucket kernel reads: d07's min-band dedup needs the full signature
    array, sim10's top-k does not — so the banded frame both families
    share must not leak ``sigs`` into sim10's shuffle. (The grouped-map
    node prepends its own copy of the grouping keys.)"""
    want = {
        "d07_cosine_lsh_pairs": ["vec_id", "embedding", "sigs", "band", "sig"],
        "d07q_int8_verify_pairs": ["vec_id", "embedding", "sigs", "band", "sig"],
        "sim10_knn_graph": ["vec_id", "embedding", "band", "sig"],
        "sim10q_int8_knn_graph": ["vec_id", "embedding", "band", "sig"],
    }
    for key, cols in want.items():
        band_inputs = [
            [re.sub(r"#\d+L?$", "", c.strip()) for c in inp.split(",")]
            for inp, part in re.findall(
                r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\n"
                r"Arguments: hashpartitioning\(([^)]*)\)",
                plans(key),
            )
            if "band#" in part and "sig#" in part
        ]
        assert band_inputs == [["band", "sig"] + cols], (key, band_inputs)
