"""Plan audits: the scale properties the engine is designed around must be
visible in the physical plans of the headline queries — filters pushed to
the scan, dimension joins broadcast, sub-quadratic near-dup joins, no
O(n²) window frames."""

import pytest

from solarboat_data_pipeline_spark import driver_queries as dq
from solarboat_data_pipeline_spark.plans import audit
from solarboat_data_pipeline_spark.plans.audit import read_schemas

from tests.conftest import TESTDATA_ROOT

SF_DIR = f"{TESTDATA_ROOT}/sf0.001"


@pytest.fixture(scope="module")
def qs():
    return dq.queries()


def test_scan_pushdown_reaches_parquet(spark, qs):
    a = audit(qs["s2_scan_pushdown"](spark, SF_DIR))
    # predicate pushed to the scan
    assert any("l_quantity" in f for f in a.pushed_filters), a.pushed_filters
    assert any("l_shipdate" in f for f in a.pushed_filters), a.pushed_filters
    # column pruning: only the 5 referenced lineitem columns (3 projected +
    # 2 filter-only) are read, not the table's 16
    schemas = read_schemas(a.plan)
    assert schemas and all(s.count(":") <= 5 for s in schemas), schemas


def test_dimension_join_broadcasts(spark, qs):
    a = audit(qs["j1_left_join_enrich"](spark, SF_DIR))
    assert a.broadcast_join
    assert "SortMergeJoin" not in a.plan


def test_lsh_join_is_not_quadratic(spark, qs):
    a = audit(qs["dd_lsh_pairs"](spark, SF_DIR))
    # the band join must be an equi-join (hash/sort-merge), never a
    # cartesian or nested-loop product
    assert not a.cartesian_join


def test_asof_and_interpolate_avoid_unbounded_following(spark, qs):
    for name in ("j3_asof_linear", "j4_asof_backward", "w3_interpolate_bounded"):
        a = audit(qs[name](spark, SF_DIR))
        assert not a.unbounded_following, name


def test_q1_single_shuffle_agg(spark, qs):
    a = audit(qs["q1_pricing_summary"](spark, SF_DIR), execute=True)
    # partial agg map-side + one exchange on the grouping keys
    assert a.shuffles == 1, a.plan
    assert a.codegen_stages >= 1


def test_exact_dedup_single_shuffle(spark, qs):
    a = audit(qs["dd_exact"](spark, SF_DIR))
    assert a.shuffles == 1, a.plan


def test_embedding_and_simhash_pair_joins_are_bucketed(spark, qs):
    # candidate generation must join on bucket equality, never produce the
    # all-pairs nested-loop the exact baselines use; same contract for the
    # chunk-bucketed interval join (Spark's native plan for a raw range
    # predicate IS the nested loop)
    for name in ("dd_embedding_lsh", "dd_simhash_pairs", "j6_interval_join"):
        a = audit(qs[name](spark, SF_DIR))
        assert not a.cartesian_join, name


def test_token_budget_sample_single_shuffle(spark, qs):
    # hash-order prefix per stratum: one exchange on the stratum key
    a = audit(qs["samp_token_budget"](spark, SF_DIR))
    assert a.shuffles <= 1, a.plan
    assert not a.unbounded_following


def _construction_jobs(spark, build) -> int:
    """Spark jobs that run while ``build()`` constructs a DataFrame,
    counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"construction-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "DataFrame construction")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# parse_stage's eager jobs per corpus shape: the stats job alone (3 Spark
# jobs: two shuffle map stages and the result) when no timestamp repeats
# or past the duplicate cap; plus the projection's duplicate-enumeration
# job (2) when a few timestamps repeat. Like the Exchange checks above,
# these counts may only go down.
@pytest.mark.parametrize(
    "case, want", [("dup_free", 3), ("same_us_pair", 5), ("over_cap", 3)]
)
def test_parse_stage_eager_jobs(spark, tmp_path, monkeypatch, case, want):
    import os

    from solarboat_data_pipeline_spark.catalog import CanCatalog
    from solarboat_data_pipeline_spark.operators import parse as parse_mod
    from solarboat_data_pipeline_spark.pipeline import parse_stage

    from tests.conftest import DATA_DIR

    catalog = CanCatalog.load(os.path.join(DATA_DIR, "mini_can_ids.json"))
    corpus = os.path.join(DATA_DIR, "sample.candump")  # one same-µs pair
    if case == "dup_free":
        corpus = str(tmp_path / "dup_free.candump")
        with open(corpus, "w") as f:
            for i in range(6):
                f.write(
                    f"(1581695094.{100 + i:06d}) can0 021#fa9f04f600f600{i:02x}\n"
                )
    if case == "over_cap":
        monkeypatch.setattr(parse_mod, "_PROJECT_DUP_MAX", 0)
    got = _construction_jobs(spark, lambda: parse_stage(spark, corpus, catalog))
    assert got <= want, (case, got)


# resample_stage runs no eager job at any width, with or without
# known_bounds: the fused kernel keeps its bounds aggregate in the plan.
@pytest.mark.parametrize("bounds", [False, True])
@pytest.mark.parametrize("n_cols", [40, 2])
def test_resample_stage_eager_jobs(spark, n_cols, bounds):
    from pyspark.sql import functions as F

    from solarboat_data_pipeline_spark.pipeline import resample_stage

    cols = [f"s{i}" for i in range(n_cols)]
    rows = [
        (t * 1.7, *[float(t + i) if (t + i) % 3 else None for i in range(n_cols)])
        for t in range(30)
    ]
    df = spark.createDataFrame(
        rows, "epoch double, " + ", ".join(f"{c} double" for c in cols)
    ).select(F.timestamp_seconds("epoch").alias("timestamp"), *cols)
    kb = None
    if bounds:
        b = df.agg(F.min("timestamp"), F.max("timestamp")).first()
        kb = (b[0], b[1])
    got = _construction_jobs(
        spark, lambda: resample_stage(df, 1.0, known_bounds=kb)
    )
    assert got == 0, (n_cols, bounds, got)


# mapInPandas (ArrowEvalPython/MapInPandas) is the sanctioned Python path;
# BatchEvalPython would mean a row-at-a-time UDF leaked into a hot path
NO_PYTHON_QUERIES = [
    "s1_candump_parse",
    "p10_binary_decode",
    "q1_pricing_summary",
    "j3_asof_linear",
    "j3_asof_linear_scaled",
    "w3_interpolate_scaled",
    "w2_lagk_scaled",
    "dd_lsh_pairs",
    "dd_embedding_lsh",
    "dd_simhash_pairs",
    "j6_interval_join",
    "sim_cosine_topk",
    "txt_quality",
    "txt_decontaminate",
    "samp_token_budget",
    "pipeline_curation",
]


@pytest.mark.parametrize("name", NO_PYTHON_QUERIES)
def test_hot_paths_have_no_rowwise_python(spark, qs, name):
    a = audit(qs[name](spark, SF_DIR))
    assert "BatchEvalPython" not in a.plan, name


def test_parse_path_stays_in_codegen(spark, qs):
    a = audit(qs["s1_candump_parse"](spark, SF_DIR), execute=True)
    assert a.codegen_stages >= 1, a.plan
