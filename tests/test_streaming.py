"""Streaming sketch builds: incremental foreachBatch accumulation must
equal the batch build (commutative merge), survive restarts, and skip
replayed micro-batches exactly-once."""

import glob
import os
import shutil

from sketchlib.agg import build_sketch, hll_spec, cms_spec
from sketchlib.sketch import HLL
from sketchlib.streaming import StreamingSketch


def _stream_events(spark, src_dir, ss, spark_ckpt):
    batch = spark.read.parquet(src_dir)
    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    q = (stream.writeStream.outputMode("append")
         .foreachBatch(ss.process_batch)
         .option("checkpointLocation", spark_ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)


def _multi_file_copy(spark, sf_smoke, tmp_path, n_copies=4):
    """Split events into several files so the file source yields several
    micro-batches (maxFilesPerTrigger=1)."""
    src = str(tmp_path / "src")
    spark.read.parquet(f"{sf_smoke}/events.parquet") \
        .repartition(n_copies).write.parquet(src)
    return src


def test_stream_equals_batch(spark, sf_smoke, tmp_path):
    src = _multi_file_copy(spark, sf_smoke, tmp_path)
    spec = hll_spec(p=13)
    ss = StreamingSketch(spec, str(tmp_path / "state"), col="user_id")
    _stream_events(spark, src, ss, str(tmp_path / "sck"))

    assert len(ss.batches) >= 2  # really went through multiple micro-batches
    batch_res = build_sketch(spark.read.parquet(src), "user_id", spec)
    # HLL merge is max: stream-accumulated state == batch state bytes
    assert ss.state_bytes == batch_res.state_bytes
    assert ss.n_rows == batch_res.n_rows


def test_stream_resume_after_restart(spark, sf_smoke, tmp_path):
    src = _multi_file_copy(spark, sf_smoke, tmp_path)
    spec = cms_spec(d=5, w=1024)
    state_dir = str(tmp_path / "state")

    # first run: only some of the files (simulate a crash mid-stream by
    # streaming a prefix directory)
    part = str(tmp_path / "partial")
    os.makedirs(part)
    files = sorted(glob.glob(f"{src}/part-*.parquet"))
    for f in files[:2]:
        shutil.copy(f, part)
    ss1 = StreamingSketch(spec, state_dir, col="event_type")
    _stream_events(spark, part, ss1, str(tmp_path / "sck1"))
    seen_batches = ss1.last_batch_id

    # "restart": new object, same durable state; stream the full dir with a
    # fresh spark checkpoint -> earlier rows arrive again as NEW batch ids,
    # so we must not reuse the old spark checkpoint... instead replay-skip
    # is exercised by re-running the SAME stream checkpoint (no new data).
    ss2 = StreamingSketch(spec, state_dir, col="event_type")
    assert ss2.last_batch_id == seen_batches
    assert ss2.state_bytes == ss1.state_bytes
    _stream_events(spark, part, ss2, str(tmp_path / "sck1"))  # same ckpt
    assert ss2.last_batch_id == seen_batches  # nothing new -> no change
    assert ss2.state_bytes == ss1.state_bytes


def test_windowed_grouped_stream_equals_batch(spark, sf_smoke, tmp_path):
    """Per-event-time-window distinct users, streamed out of order across
    micro-batches, must equal the batch grouped build byte-for-byte (HLL
    max-merge is arrival-order-independent — late data is a non-event)."""
    from pyspark.sql import functions as F

    from sketchlib.agg import sketch_grouped
    from sketchlib.streaming import StreamingGroupedSketch

    src = _multi_file_copy(spark, sf_smoke, tmp_path)  # order scrambled
    spec = hll_spec(p=12)
    ss = StreamingGroupedSketch(spec, str(tmp_path / "gstate"),
                                group_cols=["win"], value_col="user_id")

    batch = spark.read.parquet(src) \
        .withColumn("win", F.date_trunc("hour", F.col("ts")))
    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src)
              .withColumn("win", F.date_trunc("hour", F.col("ts"))))
    q = (stream.writeStream.outputMode("append")
         .foreachBatch(ss.process_batch)
         .option("checkpointLocation", str(tmp_path / "gck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    want = {str(r["win"]): bytes(r["state"]) for r in
            sketch_grouped(batch, ["win"], "user_id", spec).collect()}
    import json as _json
    got = {_json.loads(k)[0]: v["state"] for k, v in ss.groups.items()}
    assert got == want and len(want) >= 2


def test_replayed_batch_skipped(spark, sf_smoke, tmp_path):
    """Manual replay: calling process_batch twice with one batch id must
    fold the rows in exactly once (CMS would double-count otherwise)."""
    spec = cms_spec(d=5, w=1024)
    ss = StreamingSketch(spec, str(tmp_path / "state"), col="event_type")
    ev = spark.read.parquet(f"{sf_smoke}/events.parquet")
    ss.process_batch(ev, 0)
    n_after_first = ss.n_rows
    ss.process_batch(ev, 0)  # replay
    assert ss.n_rows == n_after_first
    ss.process_batch(ev, 1)  # genuinely new batch
    assert ss.n_rows == 2 * n_after_first


class TestStatefulGroupedSketch:
    """applyInPandasWithState path: per-group sketch state lives in Spark's
    checkpointed state store (executor-side), not on the driver."""

    def test_windowed_counts_and_incremental_resume(self, spark, sf_smoke,
                                                    tmp_path):
        from pyspark.sql import Window, functions as F

        from sketchlib.agg import hll_spec
        from sketchlib.sketch import HLL
        from sketchlib.streaming import stateful_grouped_sketch

        ev = spark.read.parquet(f"{sf_smoke}/events.parquet")
        src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
        sink = str(tmp_path / "changelog")

        def run_once():
            stream = (spark.readStream.schema(ev.schema)
                      .option("maxFilesPerTrigger", 1).parquet(src)
                      .withColumn("win", F.date_trunc("day", F.col("ts"))))
            # append mode + file sink: the recoverable combination — the
            # emitted rows form a changelog, latest row per group wins
            out = stateful_grouped_sketch(stream, ["win"], "user_id",
                                          hll_spec(p=12),
                                          output_mode="append")
            q = (out.writeStream.outputMode("append").format("parquet")
                 .option("path", sink).option("checkpointLocation", ck)
                 .trigger(availableNow=True).start())
            q.awaitTermination(300)

        # first half of the data, scrambled order
        half = ev.where(F.col("event_id") % 2 == 0)
        half.repartition(3).write.mode("overwrite").parquet(src)
        run_once()
        # second half appended -> the SAME state store continues counting
        ev.where(F.col("event_id") % 2 == 1) \
            .repartition(3).write.mode("append").parquet(src)
        run_once()

        w = Window.partitionBy("win").orderBy(F.desc("n"))
        final = (spark.read.parquet(sink)
                 .withColumn("r", F.row_number().over(w))
                 .where("r = 1").collect())
        ests = {str(r["win"]): HLL.cardinality(
            HLL.deserialize(bytes(r["state"]))) for r in final}
        exact = {str(r["win"]): r["c"] for r in
                 ev.groupBy(F.date_trunc("day", F.col("ts")).alias("win"))
                 .agg(F.countDistinct("user_id").alias("c")).collect()}
        assert set(ests) == set(exact)
        for win, true in exact.items():
            tol = max(5 * 1.04 / (2 ** 6) * true, 3)  # p=12 -> 1.04/64
            assert abs(ests[win] - true) <= tol, win


def test_stream_generalizes_to_new_sketch_kinds(spark, sf_smoke, tmp_path):
    """The streaming layer is spec-generic: the kinds added after it was
    written (KMV bottom-k, Misra-Gries) stream through unchanged, and the
    stream-accumulated state answers the same queries as a batch build."""
    from sketchlib.agg import kmv_spec, mg_spec
    from sketchlib.sketch import KMV, MG

    src = _multi_file_copy(spark, sf_smoke, tmp_path)

    spec = kmv_spec(k=128)
    ss = StreamingSketch(spec, str(tmp_path / "state_kmv"), col="user_id")
    _stream_events(spark, src, ss, str(tmp_path / "sck_kmv"))
    assert len(ss.batches) >= 2
    batch_res = build_sketch(spark.read.parquet(src), "user_id", spec)
    # KMV merge is union+truncate (byte-exact algebra like HLL max)
    assert ss.state_bytes == batch_res.state_bytes

    spec_mg = mg_spec(cap=64)
    sm = StreamingSketch(spec_mg, str(tmp_path / "state_mg"), col="event_type")
    _stream_events(spark, src, sm, str(tmp_path / "sck_mg"))
    st = sm.state
    ev = spark.read.parquet(src)
    exact = {r["event_type"]: r["c"] for r in
             ev.groupBy("event_type").count()
             .withColumnRenamed("count", "c").collect()}
    assert st.n_total == sum(exact.values())
    stored = dict(zip(st.keys, MG.estimate(st, st.keys).tolist()))
    for k, c in stored.items():  # 5 event types, cap 64: counts exact
        assert c <= exact[k] <= c + st.decr_total


def test_lineage_rolls_but_totals_exact(spark, sf_smoke, tmp_path, monkeypatch):
    """The durable state file is rewritten whole every commit, so per-batch
    lineage must be bounded (LINEAGE_KEEP) or a long-running stream's
    commit cost grows with its age.  Totals stay exact forever."""
    monkeypatch.setattr(StreamingSketch, "LINEAGE_KEEP", 2)
    src = _multi_file_copy(spark, sf_smoke, tmp_path, n_copies=5)
    spec = hll_spec(p=12)
    ss = StreamingSketch(spec, str(tmp_path / "state_roll"), col="user_id")
    _stream_events(spark, src, ss, str(tmp_path / "sck_roll"))
    assert ss.batches_total >= 5  # one per file
    assert len(ss.batches) == 2  # only the tail retained
    assert ss.batches[-1]["batch_id"] == ss.last_batch_id
    # reload from disk: totals and replay guard survive the roll
    ss2 = StreamingSketch(spec, str(tmp_path / "state_roll"), col="user_id")
    assert ss2.batches_total == ss.batches_total
    assert ss2.n_rows == spark.read.parquet(src).count()
    assert ss2.last_batch_id == ss.last_batch_id
    assert ss2.state_bytes == ss.state_bytes
