"""Plan-contract tests: pin the physical-plan shapes that matter at
100 TB. A small-SF row-count test can't catch a dimension join degrading
to sort-merge or a filter failing to reach the scan — these do.
"""

from __future__ import annotations

import pytest

from opentelemetry_iceberg_exporter_spark.plans.inspect import (
    join_strategies,
    num_shuffles,
    physical_plan,
    pushed_filters,
    scan_read_schemas,
)
from opentelemetry_iceberg_exporter_spark.queries import load_all_queries


@pytest.fixture(scope="module")
def specs():
    return load_all_queries()


class TestJoinStrategies:
    def test_star_join_broadcasts_all_dims(self, spark, sf_dir, specs):
        """q03: 5-way star join — every dimension side must broadcast;
        a sort-merge here means a full fact-table shuffle per dim at
        scale."""
        df = specs["q03_revenue_by_nation"].fn(spark, sf_dir)
        js = join_strategies(df)
        assert js, "expected joins in the plan"
        assert all(j == "BroadcastHashJoin" for j in js), js

    def test_asof_join_broadcasts_events(self, spark, sf_dir, specs):
        df = specs["e07_asof_join_last_order"].fn(spark, sf_dir)
        assert "BroadcastHashJoin" in join_strategies(df)

    def test_lsh_pairs_join_is_equijoin(self, spark, sf_dir, specs):
        """d03: candidate generation must be a hash equi-join on the band
        key — a nested-loop/cartesian means O(n^2) at scale."""
        df = specs["d03_minhash_lsh_pairs"].fn(spark, sf_dir)
        js = join_strategies(df)
        assert "BroadcastNestedLoopJoin" not in js and "CartesianProduct" not in js


class TestPushdownPruning:
    def test_otlp_flatten_is_shuffle_free(self, spark, sf_dir, specs):
        """The reference's core loop (OTLP -> flat tables) must stay a
        pure narrow pipeline: explode + projection, zero exchanges,
        zero joins — at 100 TB the flatten cost is then exactly one
        pass over the wire bytes, embarrassingly parallel."""
        for q in (
            "o01_flatten_traces",
            "o02_flatten_logs",
            "o03_metrics_demux_counts",
            "o07_flatten_histogram_family",
        ):
            df = specs[q].fn(spark, sf_dir)
            assert num_shuffles(df) == 0, q
            assert join_strategies(df) == [], q

    def test_d04_has_no_self_join(self, spark, sf_dir, specs):
        """d04: pair generation happens in-partition from per-shingle doc
        lists — a join on the exploded shingle relation (the r2 shape)
        would sort the widest intermediate twice at scale. Only the two
        small count joins remain."""
        df = specs["d04_ngram_jaccard_pairs"].fn(spark, sf_dir)
        plan = physical_plan(df)
        assert "SortMergeJoin" not in plan, plan
        # shuffles: fan-out repartition + shingle repartition, pair
        # count agg, per-doc count agg (+ AQE may add reads) — the
        # budget is the contract; the old shape needed strictly more
        assert num_shuffles(df) <= 5

    def test_q09_filters_reach_scan(self, spark, sf_dir, specs):
        df = specs["q09_top10_filtered_lineitems"].fn(spark, sf_dir)
        pf = " ".join(pushed_filters(df))
        assert "GreaterThanOrEqual(l_shipdate" in pf
        assert "LessThan(l_shipdate" in pf
        assert "LessThan(l_quantity" in pf

    def test_q09_column_pruning(self, spark, sf_dir, specs):
        """The lineitem scan must read only the 6 referenced columns."""
        df = specs["q09_top10_filtered_lineitems"].fn(spark, sf_dir)
        schemas = scan_read_schemas(df)
        assert len(schemas) == 1
        assert schemas[0].count(":") == 6, schemas[0]
        assert "l_comment" not in schemas[0]

    def test_q01_column_pruning(self, spark, sf_dir, specs):
        df = specs["q01_pricing_summary"].fn(spark, sf_dir)
        for s in scan_read_schemas(df):
            assert "l_comment" not in s


class TestShuffleBudget:
    def test_q01_single_shuffle(self, spark, sf_dir, specs):
        """One hash-agg shuffle; partial aggregation upstream."""
        df = specs["q01_pricing_summary"].fn(spark, sf_dir)
        assert num_shuffles(df) <= 1
        assert "HashAggregate" in physical_plan(df, "simple")

    def test_q03_single_fact_shuffle(self, spark, sf_dir, specs):
        """All dims broadcast -> at most the final group-by shuffles."""
        df = specs["q03_revenue_by_nation"].fn(spark, sf_dir)
        assert num_shuffles(df) <= 1

    def test_top_k_partial_before_shuffle(self, spark, sf_dir, specs):
        """q08 per-group top-k: WindowGroupLimit must prune partition-
        locally BEFORE the exchange (partial top-k), not sort everything."""
        df = specs["q08_top_orders_per_priority"].fn(spark, sf_dir)
        plan = physical_plan(df, "simple")
        assert "WindowGroupLimit" in plan

    def test_global_topk_no_full_sort(self, spark, sf_dir, specs):
        df = specs["q09_top10_filtered_lineitems"].fn(spark, sf_dir)
        assert "TakeOrderedAndProject" in physical_plan(df, "simple")

    def test_q13_is_one_distributed_plan(self, spark, sf_dir, specs):
        """q13 set-ops counts must be ONE plan (full-outer join +
        conditional counts), not three driver-side .count() actions —
        at scale the r1 shape was 3 jobs and a driver round-trip."""
        df = specs["q13_set_ops_nation_keys"].fn(spark, sf_dir)
        plan = physical_plan(df, "simple")
        assert "Join FullOuter" in physical_plan(df, "extended") or "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


class TestPartitionPruning:
    def test_hive_partition_filter_prunes(self, spark, tmp_path, specs):
        """A filter on a Hive partition column must become a
        PartitionFilters entry on the scan (directory pruning), not a
        post-scan Filter."""
        import json

        from opentelemetry_iceberg_exporter_spark import schemas as S
        from opentelemetry_iceberg_exporter_spark.sinks import read_raw_table
        from opentelemetry_iceberg_exporter_spark.streaming import export_batch
        from test_otlp_flatten import T0_NS, _span, _traces_payload
        from test_sinks_pipeline import _config, _write_jsonl

        cfg = _config(tmp_path)
        late = _span(
            spanId="eeee030405060708",
            startTimeUnixNano=str(T0_NS + 3_600_000_000_000),
            endTimeUnixNano=str(T0_NS + 3_601_000_000_000),
        )
        _write_jsonl(
            str(tmp_path / "in" / "t.jsonl"), [_traces_payload([_span(), late])]
        )
        export_batch(spark, str(tmp_path / "in" / "t.jsonl"), "traces", cfg)

        pruned = read_raw_table(spark, cfg, S.SIGNAL_TRACES).filter("hour = 11")
        plan = physical_plan(pruned, "formatted")
        assert "PartitionFilters" in plan
        assert "(hour" in plan.split("PartitionFilters")[1][:120]


class TestNewOperatorContracts:
    def test_s02_lsh_bucket_join_is_equijoin(self, spark, sf_dir, specs):
        """s02: candidate generation must be a hash equi-join on the
        LSH bucket key — never a cartesian expansion."""
        df = specs["s02_ann_lsh"].fn(spark, sf_dir)
        js = join_strategies(df)
        assert "BroadcastNestedLoopJoin" not in js and "CartesianProduct" not in js

    def test_s03_ivf_candidate_join_is_broadcast_hash(self, spark, sf_dir, specs):
        """s03: the cell-candidate join must be a hash equi-join (the
        centroid-assignment NLJ against the broadcast centroid table is
        the only permitted nested loop)."""
        df = specs["s03_ann_ivf"].fn(spark, sf_dir)
        js = join_strategies(df)
        assert "BroadcastHashJoin" in js, js
        assert "CartesianProduct" not in js, js
        assert "SortMergeJoin" not in js, js

    def test_s03_topk_prunes_map_side(self, spark, sf_dir, specs):
        """WindowGroupLimit must appear so per-query top-k prunes before
        the final shuffle instead of shuffling every candidate pair."""
        plan = physical_plan(specs["s03_ann_ivf"].fn(spark, sf_dir), "simple")
        assert "WindowGroupLimit" in plan

    def test_e07_asof_partial_aggregates(self, spark, sf_dir, specs):
        """e07: the argmax must partial-aggregate map-side (HashAggregate
        below the exchange) — a ranked window here would shuffle the
        whole join fan-out."""
        plan = physical_plan(specs["e07_asof_join_last_order"].fn(spark, sf_dir), "simple")
        # struct max is sort-aggregated; what matters is the partial_max
        # below the exchange and the absence of a ranked window
        assert "partial_max" in plan
        assert "Window" not in plan

    def test_e10_two_stage_aggregation(self, spark, sf_dir, specs):
        """e10: salted aggregation is two HashAggregate pairs; the salt
        stage must not add a second shuffle beyond the (key,salt) and
        (key) exchanges."""
        df = specs["e10_salted_event_counts"].fn(spark, sf_dir)
        assert num_shuffles(df) <= 2
        assert "HashAggregate" in physical_plan(df, "simple")


class TestNewOperatorPlans:
    """Plan contracts for the round-2 operators: the zero-shuffle and
    single-shuffle claims in their docstrings, pinned."""

    def test_banded_hamming_no_selfjoin_and_counts_before_lists(
        self, spark, sf_dir
    ):
        """The perceptual-hash candidate join: pair generation happens
        inside whole-stage codegen over per-bucket id lists (no
        self-join -> no cartesian risk), and the band-frequency cap is a
        COUNT-ONLY aggregate joined back before any id list
        materializes — at web-corpus scale a hot bucket must never
        build a giant collect_set buffer."""
        from opentelemetry_iceberg_exporter_spark.operators.image_dedup import (
            banded_hamming_pairs,
        )

        sigs = spark.createDataFrame(
            [(1, 7), (2, 7), (3, 0)], "media_id long, dhash long"
        )
        df = banded_hamming_pairs(sigs, "media_id", "dhash", 10)
        plan = physical_plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # two aggregates on the band key: the count-filter pass and the
        # list-building pass, in that order
        assert plan.count("collect_set") >= 1
        assert "count(1)" in plan or "count(" in plan

    def test_winnowing_is_map_side_only(self, spark, sf_dir):
        from opentelemetry_iceberg_exporter_spark.operators.text import (
            winnowing_fingerprints,
        )
        from opentelemetry_iceberg_exporter_spark.sources.tables import load_table
        from opentelemetry_iceberg_exporter_spark.plans.inspect import num_shuffles

        docs = load_table(spark, sf_dir, "documents")
        assert num_shuffles(winnowing_fingerprints(docs, "doc_id", "text")) == 0

    def test_hash_split_is_map_side_only(self, spark, sf_dir):
        from opentelemetry_iceberg_exporter_spark.operators.sampling import (
            hash_fraction_sample,
            hash_split,
        )
        from opentelemetry_iceberg_exporter_spark.sources.tables import load_table
        from opentelemetry_iceberg_exporter_spark.plans.inspect import num_shuffles

        docs = load_table(spark, sf_dir, "documents")
        assert num_shuffles(hash_split(docs, "doc_id")) == 0
        assert num_shuffles(hash_fraction_sample(docs, "doc_id", 0.25)) == 0

    def test_stratified_sample_single_shuffle(self, spark, sf_dir):
        from opentelemetry_iceberg_exporter_spark.operators.sampling import (
            stratified_sample,
        )
        from opentelemetry_iceberg_exporter_spark.sources.tables import load_table
        from opentelemetry_iceberg_exporter_spark.plans.inspect import num_shuffles

        docs = load_table(spark, sf_dir, "documents")
        out = stratified_sample(docs, ["lang"], 0.2, "doc_id")
        assert num_shuffles(out) == 1  # the window partition; count rides it


class TestDmlPlanContracts:
    """The catalog DML paths must keep their 100 TB shapes: merge's key
    join broadcasts the (small) source-key side, and delete's match
    scan pushes the predicate into the Parquet scan."""

    @pytest.fixture()
    def dml_table(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import FsCatalog

        df = (
            spark.range(200)
            .withColumn(
                "ts",
                F.to_timestamp(
                    F.lit("2024-03-01 00:00:00").cast("timestamp")
                    + F.make_interval(hours=(F.col("id") % 4).cast("int"))
                ),
            )
            .withColumn("flag", F.col("id") % 7 == 0)
        )
        cat = FsCatalog(str(tmp_path / "wh"))
        t = cat.create_table("otel", "dml", df.schema, partition_source="ts")
        t.append_dataframe(df)
        return t, df

    def test_merge_key_join_broadcasts(self, spark, dml_table):
        from pyspark.sql import functions as F

        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import (
            spark_read_schema,
        )

        t, df = dml_table
        md = t.metadata()
        keys = df.limit(5).select("id").distinct()
        tagged = (
            spark.read.schema(spark_read_schema(md))
            .parquet(*[f.file_path for f in t.plan_files()[0]])
            .withColumn("__file", F.input_file_name())
        )
        probe = tagged.join(F.broadcast(keys), ["id"], "semi")
        js = join_strategies(probe)
        assert js and all(j == "BroadcastHashJoin" for j in js), js

    def test_delete_match_scan_pushes_predicate(self, spark, dml_table):
        """The DML planners' match scan (live_row_scan with `where`)
        filters before it subtracts: the bare predicate still reaches
        the Parquet scan with an equality delete and a deletion vector
        to subtract, and neither subtraction shuffles the table."""
        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import (
            live_row_scan,
        )

        t, _ = dml_table
        t.delete_where_equality(spark, spark.range(5), ["id"])
        t.delete_where(spark, "id = 7", mode="deletion-vectors")
        md = t.metadata()
        data, deletes, _ = t.plan_scan(md=md)
        assert {f.content for f in deletes} == {1, 2}
        assert any(f.is_deletion_vector for f in deletes)
        scan = live_row_scan(spark, md, data, deletes, where="id > 150")
        pf = " ".join(pushed_filters(scan))
        assert "GreaterThan(id" in pf, pf
        assert "SortMergeJoin" not in join_strategies(scan)
        assert scan.count() == 49


class TestLineagePlanContracts:
    def test_lineage_read_broadcasts_the_file_map(self, spark, tmp_path):
        """scan_with_lineage joins the (metadata-sized) per-file lineage
        map as a BROADCAST — the table scan must not shuffle to learn
        its _row_id, at any table size."""
        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import FsCatalog

        df = spark.range(200).selectExpr(
            "id", "timestamp'2024-03-01 00:00:00' as ts", "false as flag"
        )
        cat = FsCatalog(str(tmp_path / "wh"))
        t = cat.create_table("otel", "lnp", df.schema, partition_source="ts")
        t.upgrade_format_version(3)
        t.append_dataframe(df)
        plan = t.read(spark, with_lineage=True)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        assert "SortMergeJoin" not in plan
        # exactly one scan of the data files — lineage is derived, not
        # re-scanned
        assert plan.count("Scan parquet") <= 2  # data union branches

    def test_net_changes_is_one_identity_shuffle(self, spark):
        """net_changes over an already-materialized changelog: the
        window functions over _row_id share ONE exchange (the window's
        change volume is the only shuffled data, never the table), and
        the identity guard rides INSIDE the plan — no pre-flight job,
        no extra exchange."""
        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import (
            net_changes,
        )

        log = spark.createDataFrame(
            [(1, "a", "insert", 10, 1), (1, "b", "delete", 10, 2)],
            "id long, v string, _change_type string, _row_id long, "
            "_commit_sequence_number long",
        )
        df = net_changes(log)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # one hashpartitioning exchange on _row_id feeds both window
        # branches; the union adds none
        n_exchanges = plan.count("Exchange hashpartitioning")
        assert n_exchanges <= 2, plan  # row_number + count may re-sort, never re-shuffle more
        assert "raise_error" in plan or "RAISE_ERROR" in plan.upper()
        assert "CartesianProduct" not in plan

    def test_net_changes_guard_survives_caller_filters(self, spark):
        """A caller-side filter on the RESULT cannot skip the identity
        guard: a filter on _row_id pushed below the window substitutes
        the guard CASE expression (raise_error still evaluates for bad
        rows), and filters on other columns cannot cross the window
        boundary — so a changelog containing an identity-less row
        always aborts, whatever the caller selects."""
        from opentelemetry_iceberg_exporter_spark.sinks.iceberg_fs import (
            net_changes,
        )

        log = spark.createDataFrame(
            [
                (1, "a", "insert", 10, 1),
                (2, "b", "delete_key", None, 2),  # identity-less row
            ],
            "id long, v string, _change_type string, _row_id long, "
            "_commit_sequence_number long",
        )
        out = net_changes(log)
        for flt in (
            "_row_id = 10",             # partition key: pushdown substitutes
            "_change_type = 'insert'",  # non-key: stays above the window
            "v = 'a'",
        ):
            with pytest.raises(Exception, match="row identity"):
                out.filter(flt).collect()


class TestSubstringDedupContracts:
    def test_no_cartesian_and_linear_joinback(self, spark):
        """ExactSubstr (operators/substring_dedup.py): the duplicated-
        gram detection must be ONE hash aggregate and the join-back an
        equi-join on the gram hash — output stays LINEAR in the gram
        count (joining occurrences to the dup set, never occurrences to
        occurrences, so a hot gram costs O(df), not O(df^2))."""
        from opentelemetry_iceberg_exporter_spark.operators.substring_dedup import (
            strip_duplicated_substrings,
        )

        docs = spark.createDataFrame(
            [(1, "the quick brown fox " * 5), (2, "the quick brown fox " * 5)],
            "doc_id long, text string",
        )
        df = strip_duplicated_substrings(docs, "doc_id", "text", k=20)
        js = join_strategies(df)
        assert "CartesianProduct" not in js, js
        assert "BroadcastNestedLoopJoin" not in js, js
        plan = physical_plan(df, "simple")
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_d08_registered_query_contract(self, spark, sf_dir, specs):
        """The d08 registry row (spans + strip + per-doc stats joined
        back) inherits the operator's plan guarantees end to end: no
        cartesian/nested-loop anywhere, no Python in the row path (the
        stitch is a JVM aggregate() fold)."""
        df = specs["d08_substr_spans"].fn(spark, sf_dir)
        js = join_strategies(df)
        assert "CartesianProduct" not in js, js
        assert "BroadcastNestedLoopJoin" not in js, js
        plan = physical_plan(df, "simple")
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_d05_shuffle_budget(self, spark, sf_dir, specs):
        """d05: the splits arm is one aggregate exchange; the strat arm
        is one window exchange (rank and per-stratum count ride the SAME
        window partition) — no third shuffle anywhere."""
        df = specs["d05_deterministic_splits"].fn(spark, sf_dir)
        assert num_shuffles(df) <= 3  # agg + window + the union's final agg
