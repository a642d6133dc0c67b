"""Physical-plan audits: the properties that make queries survive a 100x
scale-up are asserted, not assumed — filter pushdown into the parquet
scan, column pruning, broadcast joins for small dims, and the zero-shuffle
partial-build fast path."""

import contextlib
import io

from pyspark.sql import functions as F

from sketchlib.agg import (bloom_spec, build_partials, cms_spec, hll_spec,
                           kmv_spec)
from sketchlib.queries import QUERIES


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_q6_filters_pushed_to_scan(spark, sf_test):
    plan = plan_of(QUERIES["tpch_q6"](spark, sf_test))
    assert "PushedFilters" in plan
    # every selective predicate reaches the parquet reader
    for token in ("l_shipdate", "l_discount", "l_quantity"):
        pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
        assert any(token in ln for ln in pushed), f"{token} not pushed: {pushed}"
    # scan -> filter -> project -> partial agg collapse into codegen'd
    # spans; under AQE that is only visible on the EXECUTED plan
    df = QUERIES["tpch_q6"](spark, sf_test)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # executed plans mark whole-stage-codegen'd operators with "*(id)"
    assert "*(1)" in executed


def test_q6_column_pruning(spark, sf_test):
    plan = plan_of(QUERIES["tpch_q6"](spark, sf_test))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    # only the 4 referenced columns are read, not the 16-column table
    assert "l_extendedprice" in read and "l_discount" in read
    assert "l_orderkey" not in read and "l_comment" not in read


def test_star_join_broadcasts_dims(spark, sf_test):
    plan = plan_of(QUERIES["revenue_by_nation"](spark, sf_test), "simple")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan  # the fact table never shuffles to join


def test_build_partials_zero_shuffle(spark, sf_test):
    """The partial-build fast path adds NO exchange: scan partitions are the
    shards (placement-independent algebra)."""
    li = spark.read.parquet(f"{sf_test}/lineitem.parquet")
    partials = build_partials(li, "l_partkey", hll_spec(p=12))
    plan = plan_of(partials, "simple")
    assert "Exchange" not in plan


def test_build_partials_column_pruned(spark, sf_test):
    li = spark.read.parquet(f"{sf_test}/lineitem.parquet")
    plan = plan_of(build_partials(li, "l_partkey", hll_spec(p=12)))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_partkey" in read and "l_comment" not in read


def test_bloom_semijoin_probe_is_udf_filter_not_join(spark, sf_test):
    """The broadcast-sketch probe is a scan+filter — no join exchange for
    the probe side (the whole point of a bloom semi-join at scale)."""
    plan = plan_of(QUERIES["bloom_semijoin"](spark, sf_test), "simple")
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "ArrowEvalPython" in plan or "pythonUDF" in plan.lower()


def test_jaccard_exact_pairs_no_allpairs_join(spark, sf_test):
    """The exact-Jaccard operator must stay an inverted-index EQUI-join on
    the shingle — an all-pairs (cartesian / nested-loop) plan would be the
    N^2 design that cannot survive any scale-up."""
    plan = plan_of(QUERIES["jaccard_exact_pairs"](spark, sf_test), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mg_verify_filter_pushed_to_scan(spark, sf_test):
    """The MG gate's exact verification only aggregates candidate rows;
    nothing in the plan may materialize a full-corpus distinct or a second
    sketch pass (the CMS gate needs both, which is the point of MG)."""
    plan = plan_of(QUERIES["mg_heavy_tokens"](spark, sf_test), "simple")
    # the candidate IN-filter sits on the exploded tokens, ahead of the agg
    assert "Filter" in plan
    assert "HashAggregate" in plan


def test_kmv_partials_zero_shuffle(spark, sf_test):
    """kmv_bottomk ships only k-entry partials: its (key, priority) input
    runs through the shared mapInArrow partial builder on the scan
    partitioning, with no exchange before it."""
    wp = spark.read.parquet(f"{sf_test}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("url"))
    pr = wp.withColumn("prio", F.pmod(F.xxhash64("url"), F.lit(2**40)))
    plan = plan_of(build_partials(pr, ("url", "prio"), kmv_spec(64)), "simple")
    assert "MapInArrow" in plan
    assert "Exchange" not in plan


def test_weighted_cms_partials_zero_shuffle(spark, sf_test):
    """A weighted CMS (key, weight) input builds through the same shared
    mapInArrow partial builder, with no exchange before it."""
    li = spark.read.parquet(f"{sf_test}/lineitem.parquet")
    plan = plan_of(build_partials(li, ("l_suppkey", "l_quantity"),
                                  cms_spec(d=5, w=2048)), "simple")
    assert "MapInArrow" in plan
    assert "Exchange" not in plan


def test_sketch_engine_plans_have_no_pandas_stage(spark, sf_test, tmp_path,
                                                  monkeypatch):
    """Values reach the kernels only through Arrow: no pandas operator
    (MapInPandas, FlatMapGroupsInPandas, ...) and no pandas scalar UDF
    (ArrowEvalPython with the SQL_SCALAR_PANDAS_UDF eval type) anywhere in
    the sketch engine's plans — builds, grouped builds, keyed checkpoint
    partials, the routed bank probe and the broadcast probe."""
    from pyspark.util import PythonEvalType

    from sketchlib.agg import (bloom_contains_col, build_partials_keyed,
                               build_sketches, sketch_grouped)
    from sketchlib.checkpoint import checkpointed_build, sharded_contains

    ev = spark.read.parquet(f"{sf_test}/events.parquet")
    plans = []
    frame_cls = type(ev)
    collect = frame_cls.collect

    def recording_collect(df):
        plans.append(python_operators(df))
        return collect(df)

    monkeypatch.setattr(frame_cls, "collect", recording_collect)
    res = build_sketches(ev, [("user_id", bloom_spec(50_000)),
                              ("user_id", hll_spec(p=12))],
                         num_shards=4, fanout=2)
    monkeypatch.undo()
    assert any({"MapInArrow", "FlatMapGroupsInArrow"}
               <= {n.nodeName() for n in p} for p in plans)

    for strategy in ("shuffle", "local_combine"):
        plans.append(python_operators(sketch_grouped(
            ev, ["event_type"], "user_id", hll_spec(p=12),
            strategy=strategy)))
    plans.append(python_operators(build_partials_keyed(
        ev, "user_id", hll_spec(p=12), ["user_id"], 4)))
    ckpt = str(tmp_path / "bank")
    checkpointed_build(ev, "user_id", bloom_spec(50_000), route_cols=["user_id"],
                       num_shards=4, ckpt_dir=ckpt, shard_sized=True)
    plans.append(python_operators(sharded_contains(ev, "user_id", ckpt)))
    plans.append(python_operators(ev.where(bloom_contains_col(
        spark, res[0].state_bytes, F.col("user_id")))))

    pandas_udf = PythonEvalType.SQL_SCALAR_PANDAS_UDF
    for ops in plans:
        for op in ops:
            assert "Pandas" not in op.nodeName(), op.toString()
            assert not (op.nodeName() == "ArrowEvalPython"
                        and op.evalType() == pandas_udf), op.toString()


def test_bank_probe_is_one_cogroup_and_state_reads_run_no_python(
        spark, sf_test, tmp_path):
    """The routed bank probe has ONE Python operator, a cogroup of each
    shard's probe rows with its committed blob, and its probe side carries
    no blob (a join would copy the shard's blob onto every probe row).
    Selecting the committed blobs runs no Python and broadcasts nothing."""
    from sketchlib.checkpoint import (_committed_states, checkpointed_build,
                                      load_manifest, sharded_contains)

    ev = spark.read.parquet(f"{sf_test}/events.parquet")
    ckpt = str(tmp_path / "bank")
    checkpointed_build(ev, "user_id", bloom_spec(50_000),
                       route_cols=["user_id"], num_shards=4, ckpt_dir=ckpt,
                       shard_sized=True)
    probe = python_operators(sharded_contains(ev, "user_id", ckpt))
    assert [op.nodeName() for op in probe] == ["FlatMapCoGroupsInArrow"]
    probe_side = list(probe[0].left().schema().fieldNames())
    assert "__h" in probe_side and "state" not in probe_side, probe_side

    committed = _committed_states(spark, ckpt, load_manifest(ckpt))
    assert python_operators(committed) == []
    assert "BroadcastExchange" not in plan_of(committed, "simple")


def _plan_nodes(plan):
    """Every node of a JVM (logical or physical) plan tree."""
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def python_operators(df) -> list:
    """The Python operators of ``df``'s physical plan (MapInArrow,
    FlatMapGroupsInArrow, FlatMapCoGroupsInArrow, ArrowEvalPython, ...) as
    JVM plan nodes: each one is a stage that ships rows to Python workers."""
    return [n for n in _plan_nodes(df._jdf.queryExecution().sparkPlan())
            if n.getClass().getName().startswith(
                "org.apache.spark.sql.execution.python.")]


def test_keys_hashed_once_in_the_jvm(spark, monkeypatch):
    """Bloom(url) + HLL(url) plan ONE xxhash64 of url, and the partial
    builder's Arrow input is that bigint plus one column of x for the two
    value sketches: no string column crosses to Python.  The broadcast probe over a string column
    also receives the bigint hash (its raw-value argument folds to a
    constant null)."""
    from sketchlib.agg import bloom_contains_col, build_sketches, kll_spec

    df = spark.range(2000).select(
        F.concat(F.lit("https://h.example.com/p/"),
                 F.col("id").cast("string")).alias("url"),
        (F.col("id") * 0.5).alias("x"))
    plans = []
    frame_cls = type(df)
    collect = frame_cls.collect

    def recording_collect(d):
        plans.append(d._jdf.queryExecution().optimizedPlan())
        return collect(d)

    monkeypatch.setattr(frame_cls, "collect", recording_collect)
    res = build_sketches(df, [("url", bloom_spec(2000)),
                              ("x", kll_spec(100)),
                              ("url", hll_spec(p=12)),
                              ("x", kll_spec(50))])
    monkeypatch.undo()
    builders = [n for p in plans for n in _plan_nodes(p)
                if n.nodeName() == "MapInArrow"]
    assert len(builders) == 1
    assert builders[0].toString().count("xxhash64(") == 1
    child = builders[0].child()
    fields = [(f.name(), f.dataType().simpleString())
              for f in child.schema().fields()]
    assert fields == [("__h0", "bigint"), ("__k1", "double")], fields

    probe = df.where(bloom_contains_col(spark, res[0].state_bytes,
                                        F.col("url")))
    udfs = [n for n in _plan_nodes(probe._jdf.queryExecution().optimizedPlan())
            if n.nodeName() == "ArrowEvalPython"]
    assert len(udfs) == 1
    args = udfs[0].udfs().apply(0).children()
    types = [(args.apply(i).dataType().simpleString(), args.apply(i).foldable())
             for i in range(args.size())]
    assert types[0] == ("bigint", False)
    assert all(foldable for _, foldable in types[1:]), types
    assert probe.count() == 2000


def test_kmv_negative_priority_rejected(spark, sf_test):
    """Negative priorities would silently reverse the uint64 bottom-k order
    — the partial builder must reject them."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from sketchlib.agg import kmv_bottomk

    wp = spark.read.parquet(f"{sf_test}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("url"))
    bad = wp.withColumn("prio", F.lit(-5).cast("long"))
    with pytest.raises((Py4JJavaError, Exception), match="non-negative"):
        kmv_bottomk(bad, "url", "prio", 16)


def test_bloom_prune_join_exact_and_filters_fact_side(spark, sf_test):
    """bloom_prune_join must (a) return exactly the plain join's rows
    (no-false-negative pruning + join removes false positives) and
    (b) place the membership filter on the fact side BEFORE the join —
    the pruned rows never enter the exchange."""
    from sketchlib.agg import bloom_prune_join

    cust = (spark.read.parquet(f"{sf_test}/customer.parquet")
            .where(F.col("c_custkey") % 7 == 0)  # selective dim (~14%)
            .select("c_custkey"))
    orders = spark.read.parquet(f"{sf_test}/orders.parquet") \
        .select("o_custkey", "o_orderkey")
    pruned = bloom_prune_join(orders, "o_custkey", cust, "c_custkey")
    plain = orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
    assert pruned.count() == plain.count()
    assert pruned.select(F.sum("o_orderkey")).collect()[0][0] == \
        plain.select(F.sum("o_orderkey")).collect()[0][0]
    plan = plan_of(pruned, "simple")
    # the python membership UDF runs as a filter stage in this plan
    assert ("EvalPython" in plan) or ("pythonUDF" in plan)


def test_weighted_sample_no_global_sort(spark, sf_test):
    """weighted_sample must plan as TakeOrderedAndProject (per-partition
    top-k + k-row merge), never a full Sort+Exchange of the corpus."""
    from sketchlib.agg import weighted_sample

    docs = spark.read.parquet(f"{sf_test}/documents.parquet")
    plan = plan_of(weighted_sample(docs, "doc_id", "n_chars", 50), "simple")
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort operator
