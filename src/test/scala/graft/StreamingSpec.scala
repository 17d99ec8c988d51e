package graft

import graft.streaming.EventsStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming tumbling counts == batch tumbling counts (AvailableNow)") {
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
    // stage a micros-typed copy: Structured Streaming's parquet source hits
    // the same TIMESTAMP(NANOS) rejection as batch, so a real deployment
    // would stream from micros-typed files
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    events.write.mode("overwrite").parquet(dir)
    val batch = EventsStream.tumblingCounts(events, "1 day")
      .select("window_start", "event_type", "n_events")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet
    val stream = EventsStream.streamingTumblingCounts(spark, dir, "1 day")
    val q = stream.writeStream
      .format("memory").queryName("graft_stream_test")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("graft_stream_test")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(streamed === batch)
  }

  test("sketch aggregates stay within error bounds of exact values") {
    val row = SparkEntry.queries("q_sketch_agg")(spark,
      "/root/testdata/sf0.001").collect()(0)
    val exact = row.getAs[Long]("exact_users").toDouble
    assert(math.abs(row.getAs[Long]("approx_users") - exact) / exact < 0.05)
    assert(math.abs(row.getAs[Long]("hll_users") - exact) / exact < 0.05)
    val p50e = row.getAs[Double]("p50_exact")
    val p50a = row.getAs[Double]("p50_approx")
    assert(math.abs(p50a - p50e) / math.max(math.abs(p50e), 1e-9) < 0.05)
  }

  test("pinned GK percentile is bit-deterministic and rank-correct") {
    // q_sketch_pinned retires the GK half of q_sketch_agg's rows-only
    // adjudication: ONE sorted partition makes the Greenwald-Khanna
    // summary a pure function of the multiset. Pin both halves of that
    // claim: (a) the result is bit-identical regardless of how the
    // INPUT was partitioned beforehand, (b) the returned value is an
    // actual data value whose rank honors the eps=0.001 guarantee.
    val dir = "/root/testdata/sf0.001"
    val base = SparkEntry.queries("q_sketch_pinned")(spark, dir).collect()(0)
    val ev = Util.table(spark, dir, "events")
    val variants = Seq(ev.repartition(7), ev.repartition(3, col("user_id")),
      ev.orderBy(col("event_id").desc))
    variants.foreach { v =>
      val r = v.repartition(1).sortWithinPartitions(col("value"))
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          count(col("value")).as("n_vals"),
          expr("percentile_approx(value, 0.5, 1000)").as("p50_approx"))
        .collect()(0)
      assert(java.lang.Double.doubleToRawLongBits(r.getAs[Double]("p50_approx"))
        === java.lang.Double.doubleToRawLongBits(base.getAs[Double]("p50_approx")),
        "pinned GK must not depend on upstream partitioning")
      assert(r.getAs[Long]("approx_users") === base.getAs[Long]("approx_users"))
    }
    val n = base.getAs[Long]("n_vals")
    val p50 = base.getAs[Double]("p50_approx")
    val rankBelow = ev.filter(col("value") < p50).count()
    val rankAtOrBelow = ev.filter(col("value") <= p50).count()
    val target = 0.5 * n
    val slack = 2 * math.max(1L, math.ceil(0.001 * n).toLong)
    assert(rankBelow <= target + slack && rankAtOrBelow >= target - slack,
      s"p50=$p50 rank window [$rankBelow, $rankAtOrBelow] vs target $target")
  }

  test("bucketed percentile is bit-deterministic and tighter-than-GK " +
      "rank-correct") {
    // q_sketch_bucketed is the SCALE shape: exact bucket-count rank
    // arithmetic + one pinned GK summary on the target bucket at the
    // rank-adjusted quantile. Pin (a) bit-determinism under upstream
    // repartitioning, (b) rank correctness of the returned value — the
    // bucket decomposition makes the global rank error AT MOST the
    // local summary's eps*n_bucket, tighter than global GK's eps*n.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val base = SparkEntry.queries("q_sketch_bucketed")(spark, dir)
        .collect()(0)
      val again = SparkEntry.queries("q_sketch_bucketed")(spark, dir)
        .collect()(0)
      assert(java.lang.Double.doubleToRawLongBits(
        base.getAs[Double]("p50_bucketed")) ===
        java.lang.Double.doubleToRawLongBits(
          again.getAs[Double]("p50_bucketed")),
        s"$dir: bucketed percentile must be a pure function of the data")
      val ev = Util.table(spark, dir, "events")
      val n = base.getAs[Long]("n_vals")
      assert(n === ev.filter(col("value").isNotNull).count())
      val p50 = base.getAs[Double]("p50_bucketed")
      val nB = base.getAs[Long]("n_bucket")
      val rankBelow = ev.filter(col("value") < p50).count()
      val rankAtOrBelow = ev.filter(col("value") <= p50).count()
      val target = 0.5 * n
      // error bounded by the LOCAL summary: 2*eps*n_bucket, not 2*eps*n
      val slack = 2 * math.max(1L, math.ceil(0.001 * nB).toLong)
      assert(rankBelow <= target + slack && rankAtOrBelow >= target - slack,
        s"$dir: p50=$p50 rank window [$rankBelow, $rankAtOrBelow] vs " +
          s"target $target (slack $slack)")
    }
    // EMPTY input: phi would be 0/0 = NaN and percentile_approx rejects a
    // NaN percentage at analysis time — the query must instead emit the
    // same all-NULL row the DuckDB oracle produces on zero rows
    val emptyDir = java.nio.file.Files
      .createTempDirectory("graft_bucketed_empty").toString
    Util.table(spark, "/root/testdata/sf0.001", "events").limit(0)
      .write.parquet(s"$emptyDir/events.parquet")
    val er = SparkEntry.queries("q_sketch_bucketed")(spark, emptyDir)
      .collect()
    assert(er.length === 1)
    assert(er(0).isNullAt(er(0).fieldIndex("n_vals")))
    assert(er(0).isNullAt(er(0).fieldIndex("target_bucket")))
    assert(er(0).getAs[Long]("n_bucket") === 0L)
    assert(er(0).isNullAt(er(0).fieldIndex("p50_bucketed")))
  }

  test("merged daily HLL sketches track exact weekly distincts") {
    val dir = "/root/testdata/sf0.001"
    val exact = Util.table(spark, dir, "events")
      .groupBy(date_trunc("week", col("ts")).as("week"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val merged = SparkEntry.queries("q_sketch_merge")(spark, dir)
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(merged.keySet === exact.keySet)
    merged.foreach { case (w, est) =>
      val e = exact(w).toDouble
      assert(math.abs(est - e) / e < 0.05,
        s"week $w: merged estimate $est vs exact $e")
    }
  }

  test("HLL union is shard-invariant, commutative, and absorbs subsets EXACTLY") {
    // The 5% bounds above pin accuracy; these pin the merge ALGEBRA with
    // exact equality — the property that makes sketches work at scale is
    // that register-max union is associative/commutative/idempotent, so
    // ANY shard split or merge order reproduces the same estimate bit
    // for bit. (The full q_sketch_agg bit-replay oracle was evaluated
    // and documented infeasible — see COVERAGE.md — so the algebra is
    // pinned here instead.)
    val dir = "/root/testdata/sf0.001"
    val ev = Util.table(spark, dir, "events")
    val whole = ev
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("e"))
      .collect()(0).getLong(0)
    // shard invariance: union of per-shard sketches == whole-corpus
    // sketch, exactly, for any disjoint split
    for (nShards <- Seq(2, 7, 32)) {
      val est = ev
        .withColumn("__s", pmod(col("user_id"), lit(nShards)))
        .groupBy(col("__s"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("e"))
        .collect()(0).getLong(0)
      assert(est === whole, s"union over $nShards shards must be exact")
    }
    // commutativity + subset absorption on explicit sketch pairs
    val skAll = ev.agg(hll_sketch_agg(col("user_id")).as("ska"))
    val skSub = ev.filter(col("user_id") % 3 === 0)
      .agg(hll_sketch_agg(col("user_id")).as("skb"))
    val pair = skAll.crossJoin(skSub)
    val Array(ab, ba) = pair.select(
        hll_sketch_estimate(hll_union(col("ska"), col("skb"))).as("ab"),
        hll_sketch_estimate(hll_union(col("skb"), col("ska"))).as("ba"))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    assert(ab === ba, "hll_union must be commutative")
    assert(ab === whole,
      "union with a subset sketch must absorb (register max)")
    // idempotence: a sketch unioned with itself is itself
    assert(skAll.crossJoin(skAll.select(col("ska").as("ska2"))).select(
        hll_sketch_estimate(hll_union(col("ska"), col("ska2"))).as("e"))
      .collect()(0).getLong(0) === whole)
  }

  test("count-min sketch estimates bound the exact counts from above") {
    val dir = "/root/testdata/sf0.001"
    val exact = Util.table(spark, dir, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = exact.values.sum
    val est = SparkEntry.queries("q_sketch_cms")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    est.foreach { case (t, e) =>
      assert(e >= exact(t), s"CMS must never underestimate ($t)")
      assert(e <= exact(t) + (0.001 * total).ceil.toLong * 10,
        s"CMS overestimate out of bounds ($t: $e vs ${exact(t)})")
    }
  }

  test("streaming sessionization (watermark + session_window, AvailableNow)") {
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
    val dir = java.nio.file.Files.createTempDirectory("graft_sess").toString
    events.write.mode("overwrite").parquet(dir)
    val batch = EventsStream.sessionize(events, "30 minutes")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
      .toSet
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
      .withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("n_events"))
    val q = stream.writeStream.format("memory").queryName("graft_sess_test")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("graft_sess_test")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
      .toSet
    // append mode can withhold sessions still open at the final watermark
    assert(streamed.subsetOf(batch))
    assert(streamed.size >= (batch.size * 9) / 10,
      s"streamed ${streamed.size} of ${batch.size} sessions")
  }

  test("streaming dedup within watermark drops re-delivered events") {
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup").toString
    // simulate at-least-once delivery: the same batch lands twice
    events.write.mode("overwrite").parquet(dir)
    events.write.mode("append").parquet(dir)
    val distinctIds = events.select("event_id").distinct().count()
    val q = EventsStream.streamingDedupById(spark, dir)
      .writeStream.format("memory").queryName("graft_dedup_test")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val out = spark.table("graft_dedup_test")
    assert(out.count() === distinctIds)
    assert(out.select("event_id").distinct().count() === distinctIds)
  }

  test("stream-stream interval join == batch interval join") {
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
    val dir = java.nio.file.Files.createTempDirectory("graft_ssj").toString
    events.write.mode("overwrite").parquet(dir)
    val batch = EventsStream.clickToPurchaseBatch(events)
      .select("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val q = EventsStream.clickToPurchaseJoin(spark, dir)
      .select("purchase_id", "click_id")
      .writeStream.format("memory").queryName("graft_ssj_test")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("graft_ssj_test")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("checkpointed file-sink ingest is exactly-once across restarts") {
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
    val src = java.nio.file.Files.createTempDirectory("graft_ing_src").toString
    val out = java.nio.file.Files.createTempDirectory("graft_ing_out").toString
    val chk = java.nio.file.Files.createTempDirectory("graft_ing_chk").toString
    val firstHalf = events.filter(col("event_id") % 2 === 0)
    val secondHalf = events.filter(col("event_id") % 2 === 1)
    firstHalf.coalesce(1).write.mode("append").parquet(src)
    def runOnce(): Unit = {
      val q = EventsStream.parquetIngest(spark, src, out, chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    runOnce()
    assert(spark.read.parquet(out).count() === firstHalf.count())
    // "restart": new batch lands, same checkpoint — only the delta flows
    secondHalf.coalesce(1).write.mode("append").parquet(src)
    runOnce()
    val sunk = spark.read.parquet(out)
    assert(sunk.count() === events.count(), "no loss, no reprocessing")
    assert(sunk.select("event_id").distinct().count() === events.count(),
      "no duplicate event may survive a restart")
  }

  test("streaming funnel: batch parity and checkpointed cross-batch state") {
    val stages = Seq("signup", "view", "purchase")
    val all = Util.table(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id"), col("event_id").as("seq"), col("event_type"),
        col("value"))
    // batch mode: the stateful fold equals the batch funnel operator when
    // both order by the same sequence key
    val stateful = EventsStream.funnelStages(
        all.as[EventsStream.UserEvent], stages)
      .collect().map(p => p.user_id -> p.max_stage).toMap
    val batch = graft.ops.Funnel.maxStagePerUser(
        all, "user_id", "event_type", "seq", "seq", stages)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(stateful === batch)
    assert(stateful.values.max >= 1, "fixture must exercise some stage")
    // streaming: two in-order file batches, one checkpoint — state must
    // carry across runs so the final stage equals the full-data fold
    val src = java.nio.file.Files.createTempDirectory("graft_fun_src").toString
    val out = java.nio.file.Files.createTempDirectory("graft_fun_out").toString
    val chk = java.nio.file.Files.createTempDirectory("graft_fun_chk").toString
    val cut = 5000L // seq ranges keep delivery in order across the batches
    all.filter(col("seq") < cut).coalesce(1).write.mode("append").parquet(src)
    def runOnce(): Unit = {
      val schema = spark.read.parquet(src).schema
      val stream = spark.readStream.schema(schema).parquet(src)
        .as[EventsStream.UserEvent]
      val q = EventsStream.funnelStages(stream, stages).writeStream
        .outputMode("update")
        .option("checkpointLocation", chk)
        .foreachBatch {
          (ds: org.apache.spark.sql.Dataset[EventsStream.FunnelProgress],
           _: Long) => ds.write.mode("append").parquet(out)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    runOnce()
    all.filter(col("seq") >= cut).coalesce(1).write.mode("append").parquet(src)
    runOnce()
    val streamed = spark.read.parquet(out)
      .groupBy("user_id").agg(max(col("max_stage")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(streamed === batch,
      "checkpointed streaming fold must equal the batch fold")
  }

  test("stateful TTL expires inactive per-key state and restarts it fresh") {
    import EventsStream.UserEvent
    val src = java.nio.file.Files.createTempDirectory("graft_ttl_src").toString
    val out = java.nio.file.Files.createTempDirectory("graft_ttl_out").toString
    val chk = java.nio.file.Files.createTempDirectory("graft_ttl_chk").toString
    Seq(UserEvent(1L, 1L, "click", 10.0), UserEvent(1L, 2L, "click", 20.0))
      .toDF().coalesce(1).write.mode("append").parquet(src)
    def runOnce(): Unit = {
      val schema = spark.read.parquet(src).schema
      val stream = spark.readStream.schema(schema).parquet(src)
        .as[UserEvent]
      val q = EventsStream.userRunningTotals(stream,
          stateTtlMillis = Some(500L)).writeStream
        .outputMode("update")
        .option("checkpointLocation", chk)
        .foreachBatch {
          (ds: org.apache.spark.sql.Dataset[EventsStream.UserStats],
           _: Long) => ds.write.mode("append").parquet(out)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    runOnce()
    def rows() = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows().toSet === Set((1L, 2L, 30.0)))
    // let user 1's state pass its TTL, then trigger with ANOTHER user's
    // batch: the processing-time timeout fires on that trigger, flushing
    // and dropping user 1's state
    Thread.sleep(1500)
    Seq(UserEvent(2L, 3L, "click", 1.0))
      .toDF().coalesce(1).write.mode("append").parquet(src)
    runOnce()
    // user 1 reappears AFTER expiry: totals restart fresh — bounded-state
    // windowed-lifetime semantics, not a resumed lifetime count
    Thread.sleep(1500)
    Seq(UserEvent(1L, 4L, "click", 5.0))
      .toDF().coalesce(1).write.mode("append").parquet(src)
    runOnce()
    assert(rows().contains((1L, 1L, 5.0)),
      s"expired user must restart at (1, 5.0); saw ${rows().mkString(", ")}")
  }

  test("incremental summary maintenance: exactly-once, replay-proof, crash-repair") {
    import graft.streaming.SummaryMaintenance
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
    val src = java.nio.file.Files.createTempDirectory("graft_sum_src").toString
    val sumDir = java.nio.file.Files.createTempDirectory("graft_sum_out").toString
    val chk = java.nio.file.Files.createTempDirectory("graft_sum_chk").toString
    def runOnce(): Unit = {
      val q = SummaryMaintenance.maintain(spark, src, sumDir, chk,
          Seq("event_type"), "value")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    events.filter(col("event_id") < 5000).coalesce(1).write.mode("append").parquet(src)
    runOnce()
    events.filter(col("event_id") >= 5000).coalesce(1).write.mode("append").parquet(src)
    runOnce() // restart from the same checkpoint: only the delta merges
    def summary() = SummaryMaintenance.readSummary(spark, sumDir).get
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
    val expected = events.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
    assert(summary() === expected)
    // replaying an already-applied batch id is a no-op
    val stamped = SummaryMaintenance.lastBatchId(spark, sumDir)
    SummaryMaintenance.applyBatch(spark, sumDir, events, stamped,
      Seq("event_type"), "value")
    assert(summary() === expected, "replay must not double-count")
    // a batch id BELOW the stamp means a fresh checkpoint was pointed at
    // this summary (ids restarted from 0): loud failure, not silent drops
    intercept[IllegalArgumentException] {
      SummaryMaintenance.applyBatch(spark, sumDir, events, stamped - 1,
        Seq("event_type"), "value")
    }
    assert(summary() === expected)
    // crash repair: simulate dying between the two swap renames (data
    // moved aside, new dir never landed) — next applyBatch restores it
    val fs = new org.apache.hadoop.fs.Path(sumDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(sumDir, "data"),
      new org.apache.hadoop.fs.Path(sumDir, "data.__graft_old")))
    // r12 reader guarantee: even in the crashed-swap window an external
    // reader sees the PARKED pre-swap committed view, not a flicker to
    // "empty before first commit" (pre-r12 this read None / -1 once per
    // commit for any concurrent reader). Shrink the r13 slow-commit
    // deadline for the test: a genuinely crashed swap polls it in full.
    val savedWait = SummaryMaintenance.SwapWaitMs
    SummaryMaintenance.SwapWaitMs = 500L
    try {
      assert(summary() === expected,
        "mid-swap readers must get the parked pre-swap view, not None")
      assert(SummaryMaintenance.lastBatchId(spark, sumDir) === stamped,
        "mid-swap lastBatchId must come from the parked view, not -1")
    } finally SummaryMaintenance.SwapWaitMs = savedWait
    SummaryMaintenance.applyBatch(spark, sumDir, events, stamped,
      Seq("event_type"), "value")
    assert(summary() === expected, "repair must restore the pre-swap state")
  }

  test("pointer-mode summary commit: rename-free, crash-convergent, " +
      "GC'd, and fenced against swap-mode writers (r14)") {
    // the conf-gated object-store path (VERDICT r13 #7): commit = write
    // data.v<id> + flip the single-object _current pointer. No rename
    // exists to be non-atomic; this spec simulates the store hazards the
    // swap protocol is exposed to and shows the pointer protocol closes
    // them.
    import graft.streaming.SummaryMaintenance
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
    val sumDir = java.nio.file.Files
      .createTempDirectory("graft_sum_ptr").toString
    val fs = new org.apache.hadoop.fs.Path(sumDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ls(): Set[String] = fs.listStatus(
      new org.apache.hadoop.fs.Path(sumDir)).map(_.getPath.getName).toSet
    def summary() = SummaryMaintenance.readSummary(spark, sumDir).get
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
    def expectedUpTo(maxId: Long) = events.filter(col("event_id") < maxId)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
    spark.conf.set(SummaryMaintenance.CommitModeKey, "pointer")
    val savedWait = SummaryMaintenance.SwapWaitMs
    SummaryMaintenance.SwapWaitMs = 500L
    try {
      SummaryMaintenance.applyBatch(spark, sumDir,
        events.filter(col("event_id") < 300), 0L, Seq("event_type"), "value")
      SummaryMaintenance.applyBatch(spark, sumDir,
        events.filter(col("event_id") >= 300 && col("event_id") < 600),
        1L, Seq("event_type"), "value")
      assert(summary() === expectedUpTo(600))
      assert(SummaryMaintenance.lastBatchId(spark, sumDir) === 1L)
      assert(ls().contains("_current"))
      assert(!ls().contains("data"), "pointer mode must not create `data`")
      // GC keeps current + previous only (in-flight readers of the
      // previous version finish their scan before it goes)
      assert(ls().filter(_.startsWith("data.v")) === Set("data.v0", "data.v1"))
      // replay of the committed id: no-op
      SummaryMaintenance.applyBatch(spark, sumDir,
        events.filter(col("event_id") < 600), 1L, Seq("event_type"), "value")
      assert(summary() === expectedUpTo(600), "replay must not double-count")
      // crash window: batch 2's version dir fully written (stamp and
      // all) but the pointer never flipped — readers MUST stay on v1
      // (an uncommitted stamp must not leak into lastBatchId), and the
      // checkpoint replay of batch 2 must converge
      val batch2 = events.filter(col("event_id") >= 600)
      val orphan = new org.apache.hadoop.fs.Path(sumDir, "data.v2")
      SummaryMaintenance.readSummary(spark, sumDir).get
        .write.mode("overwrite").parquet(orphan.toString)
      val stampOut = fs.create(
        new org.apache.hadoop.fs.Path(orphan, "_last_batch_id"), true)
      try stampOut.write("2".getBytes("UTF-8")) finally stampOut.close()
      assert(SummaryMaintenance.lastBatchId(spark, sumDir) === 1L,
        "an unflipped version dir is NOT committed")
      assert(summary() === expectedUpTo(600))
      SummaryMaintenance.applyBatch(spark, sumDir, batch2, 2L,
        Seq("event_type"), "value")
      assert(summary() === expectedUpTo(Long.MaxValue),
        "replay over the orphan version dir must converge")
      assert(ls().filter(_.startsWith("data.v")) === Set("data.v1", "data.v2"))
      // swap-mode writers are fenced off pointer state
      spark.conf.set(SummaryMaintenance.CommitModeKey, "swap")
      intercept[IllegalArgumentException] {
        SummaryMaintenance.applyBatch(spark, sumDir, batch2, 3L,
          Seq("event_type"), "value")
      }
    } finally {
      spark.conf.unset(SummaryMaintenance.CommitModeKey)
      SummaryMaintenance.SwapWaitMs = savedWait
    }
    // migration: a swap-committed dir takes pointer commits and retires
    // its data/old layout in the same commit
    val migDir = java.nio.file.Files
      .createTempDirectory("graft_sum_mig").toString
    val migFs = new org.apache.hadoop.fs.Path(migDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SummaryMaintenance.applyBatch(spark, migDir,
      events.filter(col("event_id") < 600), 0L, Seq("event_type"), "value")
    assert(migFs.exists(new org.apache.hadoop.fs.Path(migDir, "data")))
    spark.conf.set(SummaryMaintenance.CommitModeKey, "pointer")
    try {
      SummaryMaintenance.applyBatch(spark, migDir,
        events.filter(col("event_id") >= 600), 1L, Seq("event_type"), "value")
      assert(!migFs.exists(new org.apache.hadoop.fs.Path(migDir, "data")),
        "migration must retire the swap layout")
      assert(SummaryMaintenance.readSummary(spark, migDir).get
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDecimal(2))).toMap === expectedUpTo(Long.MaxValue))
    } finally spark.conf.unset(SummaryMaintenance.CommitModeKey)
  }

  test("pointer-mode summary commit repairs a torn pointer from the " +
      "stamped version dirs (r14 review)") {
    // on POSIX/HDFS the flip's overwrite-create truncates _current
    // before writing; a crash in that window used to wedge the stream
    // forever (every replay read the torn pointer and threw before any
    // commit logic). The committer now repairs from the
    // highest-stamped data.v* dir — a complete commit image by the
    // stamp-after-data write order.
    import graft.streaming.SummaryMaintenance
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
    val sumDir = java.nio.file.Files
      .createTempDirectory("graft_sum_torn").toString
    val fs = new org.apache.hadoop.fs.Path(sumDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def summary() = SummaryMaintenance.readSummary(spark, sumDir).get
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
    spark.conf.set(SummaryMaintenance.CommitModeKey, "pointer")
    val savedWait = SummaryMaintenance.SwapWaitMs
    SummaryMaintenance.SwapWaitMs = 300L
    try {
      SummaryMaintenance.applyBatch(spark, sumDir,
        events.filter(col("event_id") < 500), 0L, Seq("event_type"), "value")
      val committed = summary()
      // crash simulation: the flip truncated the pointer and died
      val ptr = new org.apache.hadoop.fs.Path(sumDir, "_current")
      fs.create(ptr, true).close() // zero-length = torn
      // readers refuse honestly (they must not guess)...
      intercept[java.io.IOException] {
        SummaryMaintenance.readSummary(spark, sumDir)
      }
      // ...but the committer's replay repairs and then no-ops
      SummaryMaintenance.applyBatch(spark, sumDir,
        events.filter(col("event_id") < 500), 0L, Seq("event_type"), "value")
      assert(summary() === committed,
        "repair must restore the committed view unchanged")
      assert(SummaryMaintenance.lastBatchId(spark, sumDir) === 0L)
      // and the stream continues
      SummaryMaintenance.applyBatch(spark, sumDir,
        events.filter(col("event_id") >= 500), 1L, Seq("event_type"), "value")
      assert(SummaryMaintenance.lastBatchId(spark, sumDir) === 1L)
      // DANGLING variant (r14 review #2): a truncated flip can leave a
      // valid-LOOKING prefix of the real name whose dir never existed
      // ("data.v9" from a longer id) — the committer must repair that
      // shape too, not only unparsable content
      val out = fs.create(ptr, true)
      try out.write("data.v9".getBytes("UTF-8")) finally out.close()
      intercept[java.io.IOException] {
        SummaryMaintenance.readSummary(spark, sumDir)
      }
      SummaryMaintenance.applyBatch(spark, sumDir,
        events.filter(col("event_id") >= 500), 1L, Seq("event_type"), "value")
      assert(SummaryMaintenance.lastBatchId(spark, sumDir) === 1L,
        "dangling-pointer repair must land on the highest stamped version")
    } finally {
      spark.conf.unset(SummaryMaintenance.CommitModeKey)
      SummaryMaintenance.SwapWaitMs = savedWait
    }
  }

  test("pointer-mode retain-N GC keeps lagging readers alive, and a " +
      "truncated flip naming a RETAINED live version is torn, not " +
      "served stale (r15, VERDICT #2/#6 + ADVICE)") {
    // two hazards composed: (a) retainVersions > 1 keeps older version
    // dirs LIVE, so a reader pinned two commits behind must still read
    // its resolved dir; (b) precisely because old dirs stay live, a
    // truncated `_current` flip can leave a valid-LOOKING prefix of the
    // real name whose dir EXISTS ("data.v5" from "data.v50" with gapped
    // backfill ids) — without the record terminator the pointer would
    // resolve to a STALE version, lastBatchId would read 5, and the
    // replay of batch 50 would rebuild from v5, silently dropping batch
    // 10's contribution. The terminator makes every truncation torn.
    import graft.streaming.SummaryMaintenance
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
    val sumDir = java.nio.file.Files
      .createTempDirectory("graft_sum_retain").toString
    val root = new org.apache.hadoop.fs.Path(sumDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def vdirs(): Set[String] = fs.listStatus(root)
      .map(_.getPath.getName).filter(_.startsWith("data.v")).toSet
    def summary() = SummaryMaintenance.readSummary(spark, sumDir).get
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
    def expectedUpTo(maxId: Long) = events.filter(col("event_id") < maxId)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
    spark.conf.set(SummaryMaintenance.CommitModeKey, "pointer")
    spark.conf.set(SummaryMaintenance.RetainVersionsKey, "2")
    val savedWait = SummaryMaintenance.SwapWaitMs
    SummaryMaintenance.SwapWaitMs = 300L
    try {
      // gapped backfill ids — applyBatch only requires monotone
      SummaryMaintenance.applyBatch(spark, sumDir,
        events.filter(col("event_id") < 200), 5L, Seq("event_type"), "value")
      SummaryMaintenance.applyBatch(spark, sumDir,
        events.filter(col("event_id") >= 200 && col("event_id") < 400),
        10L, Seq("event_type"), "value")
      // a reader that resolved v5 before the second flip: its dir is
      // RETAINED (retain 2), so its in-flight scan still completes
      val laggard = spark.read.parquet(s"$sumDir/data.v5")
      SummaryMaintenance.applyBatch(spark, sumDir,
        events.filter(col("event_id") >= 400), 50L, Seq("event_type"), "value")
      // GC bounded at current + 2 retained, oldest dropped
      assert(vdirs() === Set("data.v5", "data.v10", "data.v50"))
      assert(laggard.filter(col("event_type").isNotNull).count() > 0,
        "a reader two commits behind must still complete its scan")
      assert(summary() === expectedUpTo(Long.MaxValue))
      // crash simulation: the flip to "data.v50\n" truncated after
      // "data.v5" — a COMPLETE-looking name whose dir is live and
      // retained. Readers must refuse (torn), never serve v5.
      val ptr = new org.apache.hadoop.fs.Path(sumDir, "_current")
      val out = fs.create(ptr, true)
      try out.write("data.v5".getBytes("UTF-8")) finally out.close()
      intercept[java.io.IOException] {
        SummaryMaintenance.readSummary(spark, sumDir)
      }
      // the committer's replay repairs FORWARD to the highest stamp
      // (v50), then no-ops — batch 10's contribution survives
      SummaryMaintenance.applyBatch(spark, sumDir,
        events.filter(col("event_id") >= 400), 50L, Seq("event_type"), "value")
      assert(SummaryMaintenance.lastBatchId(spark, sumDir) === 50L,
        "repair must land on the highest stamped version, not the " +
          "retained stale prefix")
      assert(summary() === expectedUpTo(Long.MaxValue),
        "no batch's contribution may be dropped by the repair")
      // replay still exactly-once after repair
      SummaryMaintenance.applyBatch(spark, sumDir,
        events.filter(col("event_id") >= 400), 50L, Seq("event_type"), "value")
      assert(summary() === expectedUpTo(Long.MaxValue))
    } finally {
      spark.conf.unset(SummaryMaintenance.CommitModeKey)
      spark.conf.unset(SummaryMaintenance.RetainVersionsKey)
      SummaryMaintenance.SwapWaitMs = savedWait
    }
  }

  test("bucketed summary commits touch only the delta's buckets, " +
      "publish through a manifest, and stay crash-convergent (r15)") {
    // the scale form of the summary: plain pointer mode rewrites the
    // WHOLE summary per batch; with spark.graft.summary.buckets = N the
    // commit reads and writes ONLY the hash buckets the delta touches,
    // and untouched buckets keep their OLD part.v* mapping — per-batch
    // cost O(delta + touched), not O(summary).
    import graft.streaming.SummaryMaintenance
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
    val sumDir = java.nio.file.Files
      .createTempDirectory("graft_sum_bucket").toString
    val root = new org.apache.hadoop.fs.Path(sumDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ls(): Set[String] = fs.listStatus(root)
      .map(_.getPath.getName).toSet
    def summary() = SummaryMaintenance.readSummary(spark, sumDir).get
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
    def expected(f: org.apache.spark.sql.DataFrame) = f
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
    def manifest(id: Long): Map[Int, String] = {
      val in = fs.open(new org.apache.hadoop.fs.Path(sumDir, s"manifest.v$id"))
      val raw = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      raw.split("\n").toSeq.takeWhile(_ != "#end")
        .map { l => val p = l.split("\t"); p(0).toInt -> p(1) }.toMap
    }
    spark.conf.set(SummaryMaintenance.CommitModeKey, "pointer")
    spark.conf.set(SummaryMaintenance.BucketsKey, "8")
    val savedWait = SummaryMaintenance.SwapWaitMs
    SummaryMaintenance.SwapWaitMs = 300L
    try {
      // batch 0: broad (all event types -> many buckets)
      val b0 = events.filter(col("event_id") < 500)
      SummaryMaintenance.applyBatch(spark, sumDir, b0, 0L,
        Seq("event_type"), "value")
      assert(summary() === expected(b0))
      assert(SummaryMaintenance.lastBatchId(spark, sumDir) === 0L)
      val m0 = manifest(0L)
      assert(m0.values.toSet === Set("part.v0"))
      // batch 1: ONE event type -> its bucket only; every other bucket's
      // mapping must still point at part.v0 (untouched data not rewritten)
      val oneType = events.select(col("event_type")).distinct()
        .orderBy(col("event_type")).limit(1)
        .collect()(0).getString(0)
      val b1 = events.filter(col("event_id") >= 500 &&
        col("event_type") === oneType)
      SummaryMaintenance.applyBatch(spark, sumDir, b1, 1L,
        Seq("event_type"), "value")
      val m1 = manifest(1L)
      assert(m1.values.toSet === Set("part.v0", "part.v1"),
        s"only the touched bucket may move to part.v1: $m1")
      assert(m1.count(_._2 == "part.v1") === 1,
        s"a single-key delta touches exactly one bucket: $m1")
      assert(m1.filter(_._2 == "part.v0") ===
        m0.filter(kv => m1.get(kv._1).contains("part.v0")),
        "untouched buckets must keep their old mapping unchanged")
      val full = events.filter(col("event_id") < 500 ||
        (col("event_id") >= 500 && col("event_type") === oneType))
      assert(summary() === expected(full))
      // replay of the committed id: no-op
      SummaryMaintenance.applyBatch(spark, sumDir, b1, 1L,
        Seq("event_type"), "value")
      assert(summary() === expected(full), "replay must not double-count")
      // crash window: part + manifest for batch 2 fully written but the
      // flip never happened — readers stay on v1, replay converges
      val b2 = events.filter(col("event_id") >= 500 &&
        col("event_type") =!= oneType)
      val ptr = new org.apache.hadoop.fs.Path(sumDir, "_current")
      val saved = {
        val in = fs.open(ptr)
        try in.readAllBytes() finally in.close()
      }
      SummaryMaintenance.applyBatch(spark, sumDir, b2, 2L,
        Seq("event_type"), "value")
      // roll the pointer back to v1 to simulate the pre-flip crash
      // (part.v2/manifest.v2 exist, flip "never happened")
      val out = fs.create(ptr, true)
      try out.write(saved) finally out.close()
      assert(SummaryMaintenance.lastBatchId(spark, sumDir) === 1L,
        "an unflipped manifest is NOT committed")
      assert(summary() === expected(full))
      SummaryMaintenance.applyBatch(spark, sumDir, b2, 2L,
        Seq("event_type"), "value")
      assert(summary() === expected(events),
        "replay over the orphan part/manifest must converge")
      // torn flip: truncated pointer repaired from the highest COMPLETE
      // manifest, then the stream continues
      fs.create(ptr, true).close() // zero-length = torn
      intercept[java.io.IOException] {
        SummaryMaintenance.readSummary(spark, sumDir)
      }
      SummaryMaintenance.applyBatch(spark, sumDir, b2, 2L,
        Seq("event_type"), "value")
      assert(SummaryMaintenance.lastBatchId(spark, sumDir) === 2L)
      assert(summary() === expected(events))
      // GC bounded: retain 1 -> manifests v1+v2 only; part dirs still
      // referenced by a kept manifest survive, orphans are gone
      val names = ls()
      assert(names.filter(_.startsWith("manifest.v")) ===
        Set("manifest.v1", "manifest.v2"), s"GC must bound manifests: $names")
      val referenced = Set(1L, 2L).flatMap(manifest(_).values)
      assert(names.filter(_.startsWith("part.v")) === referenced,
        s"kept manifests' closure must survive GC exactly: $names")
      // mode fences: plain pointer mode refuses the bucketed dir, a
      // different N refuses the stamped one
      spark.conf.unset(SummaryMaintenance.BucketsKey)
      intercept[IllegalArgumentException] {
        SummaryMaintenance.applyBatch(spark, sumDir, b2, 3L,
          Seq("event_type"), "value")
      }
      spark.conf.set(SummaryMaintenance.BucketsKey, "16")
      intercept[IllegalArgumentException] {
        SummaryMaintenance.applyBatch(spark, sumDir, b2, 3L,
          Seq("event_type"), "value")
      }
      // empty batch: the id still advances (a manifest with the same
      // mapping commits), no part dir is written, data unchanged
      spark.conf.set(SummaryMaintenance.BucketsKey, "8")
      SummaryMaintenance.applyBatch(spark, sumDir,
        events.filter(lit(false)), 3L, Seq("event_type"), "value")
      assert(SummaryMaintenance.lastBatchId(spark, sumDir) === 3L)
      assert(summary() === expected(events))
      assert(!ls().contains("part.v3"),
        "an empty batch must not write a part dir")
    } finally {
      spark.conf.unset(SummaryMaintenance.CommitModeKey)
      spark.conf.unset(SummaryMaintenance.BucketsKey)
      SummaryMaintenance.SwapWaitMs = savedWait
    }
  }

  test("a legacy terminator-less pointer reads only as the highest " +
      "stamped version; a truncated prefix of a gapped backfill id " +
      "never resolves stale (r16, ADVICE + gapped-id pin)") {
    // two scenarios share the byte shape "data.v<digits>" with no
    // terminator: an r14-binary committer's flip (legitimate committed
    // state — blanket-refusing it turns a rolling upgrade into a reader
    // outage until the first post-upgrade commit), and a TRUNCATED
    // modern flip whose prefix names a version retain-N GC kept alive
    // (the r14 ADVICE stale-resolve hazard, sharpest under gapped
    // backfill ids: commits at 5/10/50, truncation of "data.v50\n" to
    // "data.v5"). The discriminator is the highest stamp: the full name
    // always outranks any prefix of itself because its dir is written
    // and stamped BEFORE the flip.
    import graft.streaming.SummaryMaintenance
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
    val sumDir = java.nio.file.Files
      .createTempDirectory("graft_sum_legacy").toString
    val root = new org.apache.hadoop.fs.Path(sumDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr = new org.apache.hadoop.fs.Path(sumDir, "_current")
    def setPointer(bytes: String): Unit = {
      val out = fs.create(ptr, true)
      try out.write(bytes.getBytes("UTF-8")) finally out.close()
    }
    def summary() = SummaryMaintenance.readSummary(spark, sumDir).get
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
    def expectedUpTo(maxId: Long) = events.filter(col("event_id") < maxId)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
    spark.conf.set(SummaryMaintenance.CommitModeKey, "pointer")
    spark.conf.set(SummaryMaintenance.RetainVersionsKey, "2")
    val savedWait = SummaryMaintenance.SwapWaitMs
    SummaryMaintenance.SwapWaitMs = 400L
    try {
      // gapped backfill ids — batch ids need only be monotone; event_id
      // splits stay inside sf0.001's 0..999 range so no batch is empty
      SummaryMaintenance.applyBatch(spark, sumDir,
        events.filter(col("event_id") < 300), 5L, Seq("event_type"), "value")
      SummaryMaintenance.applyBatch(spark, sumDir,
        events.filter(col("event_id") >= 300 && col("event_id") < 600),
        10L, Seq("event_type"), "value")
      SummaryMaintenance.applyBatch(spark, sumDir,
        events.filter(col("event_id") >= 600), 50L,
        Seq("event_type"), "value")
      // retain 2 -> all three gapped versions are live: the prefix
      // hazard below is real, not hypothetical
      assert(fs.listStatus(root).map(_.getPath.getName)
        .filter(_.startsWith("data.v")).toSet ===
        Set("data.v5", "data.v10", "data.v50"))
      // LEGACY: the bare highest-stamped name (an r14 flip, or a
      // truncation that lost only the terminator) resolves immediately
      setPointer("data.v50")
      assert(summary() === expectedUpTo(Long.MaxValue),
        "a reader-only process must read a pre-terminator summary " +
          "without waiting for a post-upgrade commit")
      // TRUNCATED PREFIX: "data.v5" is a live, stamped dir — but not
      // the highest — so it must classify torn, never resolve stale
      setPointer("data.v5")
      val thrown = intercept[java.io.IOException] { summary() }
      assert(thrown.getMessage.contains("did not resolve"),
        s"truncated-prefix pointer must time out as torn: $thrown")
      // the committer's replay repairs the torn pointer from the
      // highest stamp and rewrites it in the TERMINATED form
      SummaryMaintenance.applyBatch(spark, sumDir,
        events.filter(col("event_id") >= 600), 50L,
        Seq("event_type"), "value")
      val raw = {
        val in = fs.open(ptr)
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      assert(raw === "data.v50\n",
        s"repair must re-publish the highest stamp, terminated: '$raw'")
      assert(summary() === expectedUpTo(Long.MaxValue))
    } finally {
      spark.conf.unset(SummaryMaintenance.CommitModeKey)
      spark.conf.unset(SummaryMaintenance.RetainVersionsKey)
      SummaryMaintenance.SwapWaitMs = savedWait
    }
  }

  test("bucketed GC aborts loudly when a KEPT manifest is unreadable " +
      "instead of deleting its part closure (r16, ADVICE)") {
    // kept manifests are complete by the write order, so a failed read
    // during GC is an IO fault or external corruption — and the old
    // getOrElse(Map.empty) treated exactly that case as "references no
    // part dirs", deleting committed, retained summary data on a single
    // transient fault. The GC must now throw; the commit itself (the
    // pointer flip) has already landed, so a replay no-ops and the next
    // healthy commit's GC collects what the aborted pass left behind.
    import graft.streaming.SummaryMaintenance
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
    val sumDir = java.nio.file.Files
      .createTempDirectory("graft_sum_gcabort").toString
    val root = new org.apache.hadoop.fs.Path(sumDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ls(): Set[String] = fs.listStatus(root)
      .map(_.getPath.getName).toSet
    def summary() = SummaryMaintenance.readSummary(spark, sumDir).get
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
    def expected(f: org.apache.spark.sql.DataFrame) = f
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
    spark.conf.set(SummaryMaintenance.CommitModeKey, "pointer")
    spark.conf.set(SummaryMaintenance.BucketsKey, "4")
    // retain 2 so manifest.v0 is KEPT at batch 2's GC while being
    // neither the current merge input (that's v1) nor the just-written
    // manifest — the one kept manifest whose read happens ONLY in GC
    spark.conf.set(SummaryMaintenance.RetainVersionsKey, "2")
    try {
      SummaryMaintenance.applyBatch(spark, sumDir,
        events.filter(col("event_id") < 300), 0L, Seq("event_type"), "value")
      SummaryMaintenance.applyBatch(spark, sumDir,
        events.filter(col("event_id") >= 300 && col("event_id") < 600),
        1L, Seq("event_type"), "value")
      val mf0 = new org.apache.hadoop.fs.Path(sumDir, "manifest.v0")
      val saved = {
        val in = fs.open(mf0)
        try in.readAllBytes() finally in.close()
      }
      // corrupt the retained manifest: strip the #end terminator — the
      // same read result a transient IO fault produces (None)
      val out = fs.create(mf0, true)
      try out.write("0\tpart.v0\n".getBytes("UTF-8")) finally out.close()
      val preParts = ls().filter(_.startsWith("part.v"))
      val thrown = intercept[java.io.IOException] {
        SummaryMaintenance.applyBatch(spark, sumDir,
          events.filter(col("event_id") >= 600), 2L,
          Seq("event_type"), "value")
      }
      assert(thrown.getMessage.contains("kept manifest"),
        s"GC must name the unreadable kept manifest: $thrown")
      // the abort deleted NOTHING (batch 2's own part.v2 was added
      // before the flip; every pre-existing part survives)...
      assert(preParts.subsetOf(ls().filter(_.startsWith("part.v"))),
        s"an aborted GC pass must not delete any part dir: had " +
          s"$preParts, now ${ls().filter(_.startsWith("part.v"))}")
      // ...and the commit itself landed before the abort (flip = commit
      // point): readers see batch 2, replays no-op
      assert(SummaryMaintenance.lastBatchId(spark, sumDir) === 2L)
      assert(summary() === expected(events))
      // restore the manifest; the next commit's GC collects normally
      val restore = fs.create(mf0, true)
      try restore.write(saved) finally restore.close()
      SummaryMaintenance.applyBatch(spark, sumDir,
        events.filter(lit(false)), 3L, Seq("event_type"), "value")
      val names = ls()
      assert(names.filter(_.startsWith("manifest.v")) ===
        Set("manifest.v1", "manifest.v2", "manifest.v3"),
        s"the healthy GC must re-bound the manifests: $names")
      assert(summary() === expected(events))
    } finally {
      spark.conf.unset(SummaryMaintenance.CommitModeKey)
      spark.conf.unset(SummaryMaintenance.BucketsKey)
      spark.conf.unset(SummaryMaintenance.RetainVersionsKey)
    }
  }

  test("a bucketed part dir is a clean commit image under dynamic " +
      "partitionOverwriteMode: crashed-attempt leaves are cleared " +
      "(r16, ADVICE)") {
    // under partitionOverwriteMode=dynamic an "overwrite" keeps
    // partition leaves the new write doesn't touch — a replay after a
    // crashed first attempt (whose touched set can differ, e.g. via the
    // never-visible-first-attempt bucket re-stamp) would leave stale
    // leaves inside part.v<id>. Unreferenced by the manifest, so reads
    // stayed correct — but the commit image must be exactly what the
    // manifest says under ANY session conf: the commit deletes the
    // target part dir before writing.
    import graft.streaming.SummaryMaintenance
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
    val sumDir = java.nio.file.Files
      .createTempDirectory("graft_sum_dynow").toString
    val root = new org.apache.hadoop.fs.Path(sumDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.conf.set(SummaryMaintenance.CommitModeKey, "pointer")
    spark.conf.set(SummaryMaintenance.BucketsKey, "4")
    val savedMode =
      spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      SummaryMaintenance.applyBatch(spark, sumDir,
        events.filter(col("event_id") < 500), 0L, Seq("event_type"), "value")
      // a crashed first attempt of batch 1 left a leaf in a bucket the
      // replay's touched set won't include (stale bucket numbering)
      events.filter(col("event_id") < 10)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)"))
            .cast("decimal(38,6)").as("sum_value"))
        .write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(sumDir,
          "part.v1/bucket=999").toString)
      SummaryMaintenance.applyBatch(spark, sumDir,
        events.filter(col("event_id") >= 500), 1L, Seq("event_type"), "value")
      val leaves = fs.listStatus(
        new org.apache.hadoop.fs.Path(sumDir, "part.v1"))
        .map(_.getPath.getName).filter(_.startsWith("bucket=")).toSet
      assert(!leaves.contains("bucket=999"),
        s"the crashed attempt's stale leaf must be cleared: $leaves")
      // and the leaves are exactly the buckets the manifest maps to v1
      val in = fs.open(new org.apache.hadoop.fs.Path(sumDir, "manifest.v1"))
      val raw = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val mappedToV1 = raw.split("\n").toSeq.takeWhile(_ != "#end")
        .map { l => val p = l.split("\t"); p(0).toInt -> p(1) }
        .filter(_._2 == "part.v1").map(kv => s"bucket=${kv._1}").toSet
      assert(leaves === mappedToV1,
        s"commit image must be exactly the manifest's v1 buckets: " +
          s"$leaves vs $mappedToV1")
    } finally {
      spark.conf.unset(SummaryMaintenance.CommitModeKey)
      spark.conf.unset(SummaryMaintenance.BucketsKey)
      savedMode match {
        case Some(v) =>
          spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None =>
          spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  test("a batch whose key TYPE differs from the stored summary fails " +
      "LOUDLY and leaves the committed summary untouched (r16)") {
    // the explicit-schema merge read (committer reads its own store
    // with the delta's schema) makes a key-type change between batches
    // a parquet type error at merge time. That is the pin-worthy
    // behavior: the OLD inferring path union-coerced mismatched key
    // types to a common type (long 5 and string "5" silently merging —
    // or splitting — keys), which is a wrong answer, not an error. A
    // foreachBatch stream can't hit this (its schema is fixed at
    // readStream); only direct applyBatch callers can, and they must
    // hear about it.
    import graft.streaming.SummaryMaintenance
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sum_typefence").toString
    SummaryMaintenance.applyBatch(spark,
      dir, Seq((5L, 1.0), (6L, 2.0)).toDF("k", "v"), 0L, Seq("k"), "v")
    val before = SummaryMaintenance.readSummary(spark, dir).get
      .collect().map(r => (r.get(0), r.getLong(1))).toSet
    intercept[Throwable] {
      SummaryMaintenance.applyBatch(spark,
        dir, Seq(("5", 3.0), ("7", 4.0)).toDF("k", "v"), 1L, Seq("k"), "v")
    }
    assert(SummaryMaintenance.lastBatchId(spark, dir) === 0L,
      "a failed merge must not advance the commit")
    assert(SummaryMaintenance.readSummary(spark, dir).get
      .collect().map(r => (r.get(0), r.getLong(1))).toSet === before,
      "a failed merge must leave the committed summary untouched")
  }

  test("a batch whose key NAME differs from the stored summary fails " +
      "LOUDLY via the _schema sidecar, plain and bucketed (r17, ADVICE)") {
    // the name-change twin of the type fence above: the explicit-schema
    // merge read returns NULLs (not errors) for a renamed column —
    // parquet yields null for schema columns absent from the footer —
    // so without the sidecar a renamed keyCol would merge the ENTIRE
    // stored summary under one null key. Pin: loud failure, commit
    // untouched, in both commit layouts, and for a LEGACY dir whose
    // stamp is missing (verified once against the footer, then stamped).
    import graft.streaming.SummaryMaintenance
    import spark.implicits._
    def pinned(dirTag: String, bucketed: Boolean): Unit = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_sum_rename_$dirTag").toString
      def run(body: => Unit): Unit =
        if (!bucketed) body
        else Util.withSessionConf(spark,
            SummaryMaintenance.CommitModeKey, "pointer") {
          Util.withSessionConf(spark, SummaryMaintenance.BucketsKey, "4") {
            body
          }
        }
      run {
        SummaryMaintenance.applyBatch(spark, dir,
          Seq((5L, 1.0), (6L, 2.0)).toDF("k", "v"), 0L, Seq("k"), "v")
        val before = SummaryMaintenance.readSummary(spark, dir).get
          .collect().map(r => (r.get(0), r.getLong(1))).toSet
        val e = intercept[IllegalArgumentException] {
          SummaryMaintenance.applyBatch(spark, dir,
            Seq((5L, 3.0), (7L, 4.0)).toDF("kk", "v"), 1L, Seq("kk"), "v")
        }
        assert(e.getMessage.contains("schema"),
          s"the failure must name the schema contract: ${e.getMessage}")
        assert(SummaryMaintenance.lastBatchId(spark, dir) === 0L)
        assert(SummaryMaintenance.readSummary(spark, dir).get
          .collect().map(r => (r.get(0), r.getLong(1))).toSet === before)
        // legacy dir: stamp deleted — the fence must still hold (one
        // footer verification), and a MATCHING batch re-stamps + merges
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(dir, "_schema"), false)
        intercept[IllegalArgumentException] {
          SummaryMaintenance.applyBatch(spark, dir,
            Seq((5L, 3.0), (7L, 4.0)).toDF("kk", "v"), 1L, Seq("kk"), "v")
        }
        assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "_schema")),
          "a failed legacy verification must not stamp the WRONG schema")
        SummaryMaintenance.applyBatch(spark, dir,
          Seq((5L, 3.0), (7L, 4.0)).toDF("k", "v"), 1L, Seq("k"), "v")
        assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "_schema")),
          "a matching batch against a legacy dir must re-stamp")
        assert(SummaryMaintenance.readSummary(spark, dir).get
          .collect().map(r => (r.get(0), r.getLong(1))).toSet ===
          Set((5L, 2L), (6L, 1L), (7L, 1L)))
      }
    }
    pinned("plain", bucketed = false)
    pinned("bucketed", bucketed = true)
  }

  test("a missing pointer with complete manifests behind it repairs to " +
      "the highest manifest instead of reading as pre-first-commit " +
      "(r17, ADVICE)") {
    // the crashed-reshard shape: manifest.v<id> durable, `_current`
    // never written (or externally deleted). Treating it as empty would
    // merge the replayed batch against an EMPTY mapping and overwrite
    // this id's part/manifest — silently discarding the whole summary.
    import graft.streaming.SummaryMaintenance
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
    val src = java.nio.file.Files
      .createTempDirectory("graft_sum_noptr_src").toString
    val dst = java.nio.file.Files
      .createTempDirectory("graft_sum_noptr_dst").toString
    SummaryMaintenance.applyBatch(spark, src,
      events.filter(col("event_id") < 600), 0L, Seq("event_type"), "value")
    SummaryMaintenance.reshardToBuckets(spark, src, dst,
      Seq("event_type"), 4)
    val expected = SummaryMaintenance.readSummary(spark, dst).get
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
    // simulate the crash-before-flip: delete the pointer outright
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dst, "_current"), false)
    Util.withSessionConf(spark, SummaryMaintenance.CommitModeKey,
        "pointer") {
      Util.withSessionConf(spark, SummaryMaintenance.BucketsKey, "4") {
        // the stream starts against dst and REPLAYS the pre-reshard id:
        // with the repair this no-ops; without it the batch would merge
        // against an empty mapping (losing every key outside it)
        SummaryMaintenance.applyBatch(spark, dst,
          events.filter(col("event_id") < 600), 0L,
          Seq("event_type"), "value")
        assert(SummaryMaintenance.readSummary(spark, dst).get
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getDecimal(2))).toMap === expected,
          "the replay against repaired state must no-op, not overwrite")
        assert(SummaryMaintenance.lastBatchId(spark, dst) === 0L)
        // and the lineage continues
        SummaryMaintenance.applyBatch(spark, dst,
          events.filter(col("event_id") >= 600), 1L,
          Seq("event_type"), "value")
        val full = events.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,6)")).as("s"))
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getDecimal(2))).toMap
        assert(SummaryMaintenance.readSummary(spark, dst).get
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getDecimal(2))).toMap === full)
      }
    }
  }

  test("reshardToBuckets fails loudly when the source advances during " +
      "the re-shard, leaving the destination pre-flip (r17, VERDICT)") {
    // the stopped-stream contract, enforced: a live maintaining stream
    // that commits after the snapshot would otherwise have that commit
    // silently stranded (new dir stamped N, checkpoint already at N+1 —
    // N+1 never replays).
    import graft.streaming.SummaryMaintenance
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
    val src = java.nio.file.Files
      .createTempDirectory("graft_reshard_live_src").toString
    val dst = java.nio.file.Files
      .createTempDirectory("graft_reshard_live_dst").toString
    SummaryMaintenance.applyBatch(spark, src,
      events.filter(col("event_id") < 400), 0L, Seq("event_type"), "value")
    // the "live stream": lands batch 1 on the source inside the
    // pre-flip window
    SummaryMaintenance.ReshardPreFlipHook = () =>
      SummaryMaintenance.applyBatch(spark, src,
        events.filter(col("event_id") >= 400 && col("event_id") < 800),
        1L, Seq("event_type"), "value")
    try {
      val e = intercept[IllegalStateException] {
        SummaryMaintenance.reshardToBuckets(spark, src, dst,
          Seq("event_type"), 4)
      }
      assert(e.getMessage.contains("advanced"),
        s"must name the live-source hazard: ${e.getMessage}")
    } finally SummaryMaintenance.ReshardPreFlipHook = () => ()
    // destination left pre-flip: unresolvable, and a RERUN (stream now
    // quiet) converges on the advanced id
    assert(SummaryMaintenance.lastBatchId(spark, dst) === -1L,
      "the failed re-shard must not have published a pointer")
    SummaryMaintenance.reshardToBuckets(spark, src, dst,
      Seq("event_type"), 4)
    assert(SummaryMaintenance.lastBatchId(spark, dst) === 1L)
    assert(SummaryMaintenance.readSummary(spark, dst).get
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDecimal(2))).toMap ===
      SummaryMaintenance.readSummary(spark, src).get
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDecimal(2))).toMap)
  }

  test("reshardToBuckets refuses a destination holding committed-shape " +
      "manifests at another id — a torn-pointer real summary (r17, " +
      "ADVICE)") {
    // a REAL bucketed summary whose pointer is torn (crash mid-flip)
    // passes the resolvable-pointer guard; overwriting its _buckets
    // stamp and manifest lineage would regress its published state.
    import graft.streaming.SummaryMaintenance
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
    val vic = java.nio.file.Files
      .createTempDirectory("graft_reshard_victim").toString
    Util.withSessionConf(spark, SummaryMaintenance.CommitModeKey,
        "pointer") {
      Util.withSessionConf(spark, SummaryMaintenance.BucketsKey, "4") {
        for (b <- 0L to 2L)
          SummaryMaintenance.applyBatch(spark, vic,
            events.filter(pmod(col("event_id"), lit(3)) === b), b,
            Seq("event_type"), "value")
      }
    }
    val committed = SummaryMaintenance.readSummary(spark, vic).get
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
    // tear the victim's pointer (crash mid-flip)
    val fs = new org.apache.hadoop.fs.Path(vic)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(vic, "_current"), true)
    try out.write("manifest.v".getBytes("UTF-8")) finally out.close()
    // a re-shard from an UNRELATED source (committed id 0) must refuse
    // the victim as destination rather than mixing lineages into it
    val src = java.nio.file.Files
      .createTempDirectory("graft_reshard_alien_src").toString
    SummaryMaintenance.applyBatch(spark, src,
      events.filter(col("event_id") < 300), 0L, Seq("event_type"), "value")
    val e = intercept[IllegalArgumentException] {
      SummaryMaintenance.reshardToBuckets(spark, src, vic,
        Seq("event_type"), 8)
    }
    assert(e.getMessage.contains("other ids"),
      s"must name the foreign-lineage hazard: ${e.getMessage}")
    // the victim repairs through its own commit path, state intact
    Util.withSessionConf(spark, SummaryMaintenance.CommitModeKey,
        "pointer") {
      Util.withSessionConf(spark, SummaryMaintenance.BucketsKey, "4") {
        SummaryMaintenance.applyBatch(spark, vic,
          events.filter(lit(false)), 3L, Seq("event_type"), "value")
      }
    }
    assert(SummaryMaintenance.readSummary(spark, vic).get
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap === committed,
      "the torn-pointer victim must survive with its lineage intact")
  }

  test("compactSummary folds the live image into one part dir, changes " +
      "nothing, survives its crash window, and bounds disk (r17, VERDICT)") {
    import graft.streaming.SummaryMaintenance
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
    val sumDir = java.nio.file.Files
      .createTempDirectory("graft_sum_compact").toString
    val root = new org.apache.hadoop.fs.Path(sumDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ls(): Set[String] =
      fs.listStatus(root).map(_.getPath.getName).toSet
    def summary() = SummaryMaintenance.readSummary(spark, sumDir).get
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
    val oneType = events.select(col("event_type")).distinct()
      .orderBy(col("event_type")).limit(1).collect()(0).getString(0)
    Util.withSessionConf(spark, SummaryMaintenance.CommitModeKey,
        "pointer") {
      Util.withSessionConf(spark, SummaryMaintenance.BucketsKey, "8") {
        // adversarial touch pattern: batch 0 is broad, batches 1-3
        // touch ONE key's bucket — part.v0 stays pinned by the
        // untouched buckets while part.v1/v2 leaves are superseded
        SummaryMaintenance.applyBatch(spark, sumDir,
          events.filter(col("event_id") < 500), 0L,
          Seq("event_type"), "value")
        for (b <- 1L to 3L)
          SummaryMaintenance.applyBatch(spark, sumDir,
            events.filter(col("event_id") >= 400 + b * 100 &&
              col("event_id") < 500 + b * 100 &&
              col("event_type") === oneType), b,
            Seq("event_type"), "value")
        val before = summary()
        val partsBefore = ls().filter(_.startsWith("part."))
        assert(partsBefore.size >= 3,
          s"the touch pattern must leave a multi-dir closure: $partsBefore")
        // crash window: image + manifest durable, flip never happens
        SummaryMaintenance.CompactPreFlipHook =
          () => throw new RuntimeException("simulated pre-flip crash")
        try intercept[RuntimeException] {
          SummaryMaintenance.compactSummary(spark, sumDir)
        } finally SummaryMaintenance.CompactPreFlipHook = () => ()
        assert(summary() === before,
          "a pre-flip crash publishes nothing")
        assert(SummaryMaintenance.lastBatchId(spark, sumDir) === 3L)
        // the torn-pointer repair ranks the complete manifest.c3 above
        // manifest.v3 — tear the pointer and let the NEXT COMMIT repair
        // through the crashed compaction image (both are the same data)
        fs.create(new org.apache.hadoop.fs.Path(sumDir, "_current"), true)
          .close()
        SummaryMaintenance.applyBatch(spark, sumDir,
          events.filter(lit(false)), 4L, Seq("event_type"), "value")
        assert(summary() === before, "repair through the crashed " +
          "compaction image must not change data")
        // rebuild a multi-dir closure on top of the repaired image
        // (events span ids 0-999 at sf0.001 — stay inside the data)
        SummaryMaintenance.applyBatch(spark, sumDir,
          events.filter(col("event_id") >= 800 && col("event_id") < 850 &&
            col("event_type") === oneType), 5L, Seq("event_type"), "value")
        SummaryMaintenance.applyBatch(spark, sumDir,
          events.filter(col("event_id") >= 850 && col("event_id") < 900 &&
            col("event_type") === oneType), 6L, Seq("event_type"), "value")
        val mid = summary()
        assert(ls().filter(_.startsWith("part.")).size >= 3,
          s"the rebuilt closure must span several part dirs: ${ls()}")
        val bytesBefore = fs.getContentSummary(root).getLength
        val partsAtPeak = ls().count(_.startsWith("part."))
        // exercise the legacy (stamp-less) image read too: compaction
        // must fall back to footer inference and next commits re-stamp
        fs.delete(new org.apache.hadoop.fs.Path(sumDir, "_schema"), false)
        // now compact the live image for real
        SummaryMaintenance.compactSummary(spark, sumDir)
        info(s"disk: pre-compaction $bytesBefore B / $partsAtPeak part " +
          s"dirs -> post-compaction ${fs.getContentSummary(root).getLength} " +
          s"B / ${ls().count(_.startsWith("part."))} part dirs")
        assert(summary() === mid, "compaction is pure re-layout")
        assert(SummaryMaintenance.lastBatchId(spark, sumDir) === 6L,
          "compaction must not mint a new batch id")
        assert(ls().contains("part.c6") && ls().contains("manifest.c6"),
          s"the compaction image is published at the committed id: ${ls()}")
        // replay still no-ops against the compacted image
        SummaryMaintenance.applyBatch(spark, sumDir,
          events.filter(lit(false)), 6L, Seq("event_type"), "value")
        assert(summary() === mid)
        // rerun is a no-op (already compacted at this id)
        val snapshot = ls()
        SummaryMaintenance.compactSummary(spark, sumDir)
        assert(ls() === snapshot, "rerun on a compacted id must no-op")
        // disk bound: two more commits age the pre-compaction lineage
        // out entirely — O(retained images), not O(touch-history)
        SummaryMaintenance.applyBatch(spark, sumDir,
          events.filter(col("event_id") >= 900 && col("event_id") < 950 &&
            col("event_type") === oneType), 7L, Seq("event_type"), "value")
        SummaryMaintenance.applyBatch(spark, sumDir,
          events.filter(col("event_id") >= 950 &&
            col("event_type") === oneType), 8L, Seq("event_type"), "value")
        val names = ls()
        assert(!names.exists(n => n.startsWith("part.v") &&
            n.stripPrefix("part.v").toLong <= 6L),
          s"pre-compaction part dirs must age out: $names")
        assert(names.count(_.startsWith("part.c")) === 1,
          s"exactly the compaction image survives: $names")
        info(s"disk: post-aging ${fs.getContentSummary(root).getLength} " +
          s"B / ${names.count(_.startsWith("part."))} part dirs " +
          "(pre-compaction lineage fully reclaimed)")
        val full = events.filter(col("event_id") < 500 ||
            (col("event_id") >= 500 && col("event_type") === oneType))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,6)")).as("s"))
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getDecimal(2))).toMap
        assert(summary() === full)
      }
    }
    // plain-mode summaries are refused (every commit already rewrites
    // its whole image — nothing to compact)
    val plain = java.nio.file.Files
      .createTempDirectory("graft_sum_compact_plain").toString
    SummaryMaintenance.applyBatch(spark, plain,
      events.filter(col("event_id") < 100), 0L,
      Seq("event_type"), "value")
    intercept[IllegalArgumentException] {
      SummaryMaintenance.compactSummary(spark, plain)
    }
  }

  test("maintain() runs the compaction cadence: compactEvery=2 folds " +
      "the image from inside the stream (r17)") {
    // the operational form of the disk bound — the maintaining stream
    // itself compacts on a batch-id cadence, no manual step to forget.
    import graft.streaming.SummaryMaintenance
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
    val src = java.nio.file.Files
      .createTempDirectory("graft_sum_cadence_src").toString
    val sumDir = java.nio.file.Files
      .createTempDirectory("graft_sum_cadence_out").toString
    val chk = java.nio.file.Files
      .createTempDirectory("graft_sum_cadence_chk").toString
    def runOnce(): Unit = {
      val q = SummaryMaintenance.maintain(spark, src, sumDir, chk,
          Seq("user_id"), "value")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    // disjoint covering batches with LOCALIZED user slices (so the
    // commit at id 2 still maps untouched buckets to older part dirs —
    // a broad batch would touch every bucket and leave nothing to fold)
    val batches = Seq(
      events.filter(col("event_id") < 250),
      events.filter(col("event_id") >= 250 && col("user_id") < 4),
      events.filter(col("event_id") >= 250 &&
        col("user_id") >= 4 && col("user_id") < 8),
      events.filter(col("event_id") >= 250 && col("user_id") >= 8))
    Util.withSessionConf(spark, SummaryMaintenance.CommitModeKey,
        "pointer") {
      Util.withSessionConf(spark, SummaryMaintenance.BucketsKey, "16") {
        Util.withSessionConf(spark,
            SummaryMaintenance.CompactEveryKey, "2") {
          // four appended files -> four sequential batch ids across
          // AvailableNow restarts; the cadence fires at id 2
          for (b <- batches) {
            b.coalesce(1).write.mode("append").parquet(src)
            runOnce()
          }
        }
      }
    }
    val fs = new org.apache.hadoop.fs.Path(sumDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(sumDir))
      .map(_.getPath.getName).toSet
    assert(names.contains("part.c2") && names.contains("manifest.c2"),
      s"the cadence must have compacted at batch id 2: $names")
    val expected = events.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("s"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
    assert(SummaryMaintenance.readSummary(spark, sumDir).get
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap === expected,
      "in-stream compaction must not change the maintained data")
    // the cadence on a PLAIN summary is refused at the first batch
    // instead of failing on the Nth
    val src2 = java.nio.file.Files
      .createTempDirectory("graft_sum_cadence_src2").toString
    val bad = java.nio.file.Files
      .createTempDirectory("graft_sum_cadence_bad").toString
    val chk2 = java.nio.file.Files
      .createTempDirectory("graft_sum_cadence_chk2").toString
    events.filter(col("event_id") < 100).coalesce(1)
      .write.mode("append").parquet(src2)
    Util.withSessionConf(spark,
        SummaryMaintenance.CompactEveryKey, "2") {
      val q = SummaryMaintenance.maintain(spark, src2, bad, chk2,
          Seq("user_id"), "value")
        .trigger(Trigger.AvailableNow()).start()
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination(120000)
      }
      assert(e.getMessage.contains("compactEvery") ||
        Option(e.getCause).exists(_.getMessage.contains("compactEvery")),
        s"the refusal must name the cadence conf: $e")
    }
  }

  test("readSummaryKey returns exactly the keyed row from one bucket " +
      "leaf, plain summaries degrade to a filtered read (r17, VERDICT)") {
    import graft.streaming.SummaryMaintenance
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
    val sumDir = java.nio.file.Files
      .createTempDirectory("graft_sum_lookup").toString
    Util.withSessionConf(spark, SummaryMaintenance.CommitModeKey,
        "pointer") {
      Util.withSessionConf(spark, SummaryMaintenance.BucketsKey, "16") {
        for (b <- 0L to 1L)
          SummaryMaintenance.applyBatch(spark, sumDir,
            events.filter(pmod(col("event_id"), lit(2)) === b), b,
            Seq("user_id"), "value")
      }
    }
    val all = SummaryMaintenance.readSummary(spark, sumDir).get
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
    // every present key resolves through its single bucket; the values
    // match the full read exactly
    val keys = all.keySet.take(5)
    for (k <- keys) {
      val got = SummaryMaintenance.readSummaryKey(spark, sumDir,
        Seq("user_id"), Seq(k))
      val rows = got.collect()
      assert(rows.length === 1, s"key $k must resolve to one row")
      assert(rows(0).getLong(0) === k)
      assert((rows(0).getLong(1), rows(0).getDecimal(2)) === all(k))
      // an Int literal for the Long key column must hash identically
      // (the cast-to-stamped-type rule)
      assert(SummaryMaintenance.readSummaryKey(spark, sumDir,
        Seq("user_id"), Seq(k.toInt)).count() === 1L)
    }
    // the batched form groups tuples by bucket, scans each distinct
    // leaf once, and returns exactly the union of the point lookups
    val batch = SummaryMaintenance.readSummaryKeys(spark, sumDir,
      Seq("user_id"), (keys.toSeq :+ -777L).map(Seq(_)))
    assert(batch.collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap ===
      keys.map(k => k -> all(k)).toMap,
      "batched lookup must serve exactly the present keys")
    val batchLeaves = batch.inputFiles.toSet
      .map((f: String) => f.substring(0, f.lastIndexOf('/')))
    assert(batchLeaves.size <= keys.size + 1,
      s"batched lookup must scan at most one leaf per distinct bucket: " +
        s"$batchLeaves")
    assert(SummaryMaintenance.readSummaryKeys(spark, sumDir,
      Seq("user_id"), Seq.empty).count() === 0L,
      "an empty tuple list is an empty typed result")
    // legacy dir (pre-sidecar): with _schema deleted the lookup falls
    // back to one leaf's footer for the key types and still serves
    val fsL = new org.apache.hadoop.fs.Path(sumDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsL.delete(new org.apache.hadoop.fs.Path(sumDir, "_schema"), false)
    val legacyRow = SummaryMaintenance.readSummaryKey(spark, sumDir,
      Seq("user_id"), Seq(keys.head)).collect()
    assert(legacyRow.length === 1 &&
      (legacyRow(0).getLong(1), legacyRow(0).getDecimal(2)) ===
        all(keys.head),
      "a stamp-less legacy summary must still serve keyed lookups")
    // an absent key returns zero rows with the summary schema
    val absent = SummaryMaintenance.readSummaryKey(spark, sumDir,
      Seq("user_id"), Seq(-12345L))
    assert(absent.count() === 0L)
    assert(absent.columns.toSeq ===
      Seq("user_id", "n_events", "sum_value"))
    // a plain summary serves the same lookup as a filtered full read
    val plainDir = java.nio.file.Files
      .createTempDirectory("graft_sum_lookup_plain").toString
    SummaryMaintenance.applyBatch(spark, plainDir, events, 0L,
      Seq("user_id"), "value")
    val k0 = keys.head
    val plainRow = SummaryMaintenance.readSummaryKey(spark, plainDir,
      Seq("user_id"), Seq(k0)).collect()
    assert(plainRow.length === 1 && plainRow(0).getLong(0) === k0)
    // a misspelled key column is refused loudly — by the key-order
    // fence on the bucketed path, by the membership check on the plain
    // path (where subset/reorder filters are legitimate: no hash)
    val e = intercept[IllegalArgumentException] {
      SummaryMaintenance.readSummaryKey(spark, sumDir,
        Seq("userid"), Seq(k0)).collect()
    }
    assert(e.getMessage.contains("IN ORDER"))
    val ePlain = intercept[IllegalArgumentException] {
      SummaryMaintenance.readSummaryKey(spark, plainDir,
        Seq("userid"), Seq(k0)).collect()
    }
    assert(ePlain.getMessage.contains("not a column"))
    // composite keys: a REORDERED or PARTIAL key list would hash to the
    // wrong bucket and return silently empty rows — the fence makes
    // both fail loudly instead (r17 review wave)
    val multiDir = java.nio.file.Files
      .createTempDirectory("graft_sum_lookup_multi").toString
    Util.withSessionConf(spark, SummaryMaintenance.CommitModeKey,
        "pointer") {
      Util.withSessionConf(spark, SummaryMaintenance.BucketsKey, "16") {
        SummaryMaintenance.applyBatch(spark, multiDir, events, 0L,
          Seq("event_type", "user_id"), "value")
      }
    }
    val one = SummaryMaintenance.readSummary(spark, multiDir).get
      .limit(1).collect()(0)
    val (t0, u0) = (one.getString(0), one.getLong(1))
    assert(SummaryMaintenance.readSummaryKey(spark, multiDir,
      Seq("event_type", "user_id"), Seq(t0, u0)).count() === 1L,
      "the maintaining order must serve the row")
    val eReorder = intercept[IllegalArgumentException] {
      SummaryMaintenance.readSummaryKey(spark, multiDir,
        Seq("user_id", "event_type"), Seq(u0, t0)).collect()
    }
    assert(eReorder.getMessage.contains("IN ORDER"))
    val eSubset = intercept[IllegalArgumentException] {
      SummaryMaintenance.readSummaryKey(spark, multiDir,
        Seq("event_type"), Seq(t0)).collect()
    }
    assert(eSubset.getMessage.contains("IN ORDER"))
  }

  test("reshardToBuckets migrates a summary into a fresh bucketed dir, " +
      "preserves the checkpoint lineage, and is crash-rerunnable (r16)") {
    // the migration path both mode fences point at, packaged: re-shard
    // an existing summary (any mode) into a fresh bucketed dir carrying
    // the committed batch id over, so the SAME stream checkpoint
    // continues against the new dir — next id merges, old id no-ops.
    import graft.streaming.SummaryMaintenance
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
    def mkDir(tag: String) = java.nio.file.Files
      .createTempDirectory(s"graft_reshard_$tag").toString
    def summary(dir: String) = SummaryMaintenance.readSummary(spark, dir)
      .get.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
    def expectedUpTo(maxId: Long) = events.filter(col("event_id") < maxId)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
    // source: a SWAP-mode summary (the migration-hostile starting mode)
    val src = mkDir("src")
    SummaryMaintenance.applyBatch(spark, src,
      events.filter(col("event_id") < 300), 0L, Seq("event_type"), "value")
    SummaryMaintenance.applyBatch(spark, src,
      events.filter(col("event_id") >= 300 && col("event_id") < 600),
      1L, Seq("event_type"), "value")
    val dst = mkDir("dst")
    SummaryMaintenance.reshardToBuckets(spark, src, dst,
      Seq("event_type"), 8)
    assert(SummaryMaintenance.lastBatchId(spark, dst) === 1L,
      "the source's committed id must carry over (lineage continuity)")
    assert(summary(dst) === expectedUpTo(600))
    assert(summary(dst) === summary(src), "re-shard must not change data")
    // the same checkpoint continues: replay of the old id no-ops, the
    // next id merges — under the bucketed confs
    spark.conf.set(SummaryMaintenance.CommitModeKey, "pointer")
    spark.conf.set(SummaryMaintenance.BucketsKey, "8")
    try {
      SummaryMaintenance.applyBatch(spark, dst,
        events.filter(col("event_id") >= 300 && col("event_id") < 600),
        1L, Seq("event_type"), "value")
      assert(summary(dst) === expectedUpTo(600), "old-id replay must no-op")
      SummaryMaintenance.applyBatch(spark, dst,
        events.filter(col("event_id") >= 600), 2L,
        Seq("event_type"), "value")
      assert(summary(dst) === expectedUpTo(Long.MaxValue))
      // a committed destination refuses a second re-shard
      intercept[IllegalArgumentException] {
        SummaryMaintenance.reshardToBuckets(spark, src, dst,
          Seq("event_type"), 8)
      }
      // a plain-layout destination (incl. the source itself — swap
      // dirs have no pointer for the committed-check to see) is
      // refused instead of wedged with mixed-mode artifacts
      intercept[IllegalArgumentException] {
        SummaryMaintenance.reshardToBuckets(spark, src, src,
          Seq("event_type"), 8)
      }
    } finally {
      spark.conf.unset(SummaryMaintenance.CommitModeKey)
      spark.conf.unset(SummaryMaintenance.BucketsKey)
    }
    // crashed flip: destination left with pre-flip wreckage + torn
    // pointer — a RERUN overwrites and converges
    val dst2 = mkDir("dst2")
    SummaryMaintenance.reshardToBuckets(spark, src, dst2,
      Seq("event_type"), 8)
    val fs = new org.apache.hadoop.fs.Path(dst2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr = new org.apache.hadoop.fs.Path(dst2, "_current")
    val out = fs.create(ptr, true)
    try out.write("manifest.v".getBytes("UTF-8")) finally out.close()
    SummaryMaintenance.reshardToBuckets(spark, src, dst2,
      Seq("event_type"), 8)
    assert(summary(dst2) === expectedUpTo(600))
    // bucketed -> bucketed with a DIFFERENT N (the case the _buckets
    // fence refuses in place)
    val dst3 = mkDir("dst3")
    SummaryMaintenance.reshardToBuckets(spark, dst, dst3,
      Seq("event_type"), 16)
    assert(SummaryMaintenance.lastBatchId(spark, dst3) === 2L)
    assert(summary(dst3) === expectedUpTo(Long.MaxValue))
    // committed-but-EMPTY bucketed source (zero-bucket manifest): the
    // re-shard is the empty commit image at the carried-over id
    val esrc = mkDir("esrc")
    spark.conf.set(SummaryMaintenance.CommitModeKey, "pointer")
    spark.conf.set(SummaryMaintenance.BucketsKey, "4")
    try SummaryMaintenance.applyBatch(spark, esrc,
      events.filter(lit(false)), 0L, Seq("event_type"), "value")
    finally {
      spark.conf.unset(SummaryMaintenance.CommitModeKey)
      spark.conf.unset(SummaryMaintenance.BucketsKey)
    }
    val edst = mkDir("edst")
    SummaryMaintenance.reshardToBuckets(spark, esrc, edst,
      Seq("event_type"), 8)
    assert(SummaryMaintenance.lastBatchId(spark, edst) === 0L)
    assert(SummaryMaintenance.readSummary(spark, edst).isEmpty,
      "an empty source re-shards to an empty (zero-bucket) summary")
  }

  test("reshardToBuckets renameCols evolves key names with the data: " +
      "stamp travels renamed, old-name batches stay fenced, lookups " +
      "serve the new name (r17)") {
    // the schema-evolution arm of the migration: the _schema fence
    // deliberately refuses a renamed key at commit time, so the ONLY
    // legitimate rename path is migrating into a fresh dir — this test
    // pins that the migration renames data + stamp together and the
    // fence then points the right way (new name accepted, old fenced)
    import graft.streaming.SummaryMaintenance
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
    def mkDir(tag: String) = java.nio.file.Files
      .createTempDirectory(s"graft_evolve_$tag").toString
    val src = mkDir("src")
    SummaryMaintenance.applyBatch(spark, src,
      events.filter(col("event_id") < 500), 0L, Seq("event_type"), "value")
    val dst = mkDir("dst")
    SummaryMaintenance.reshardToBuckets(spark, src, dst,
      Seq("category"), 8, Map("event_type" -> "category"))
    val evolved = SummaryMaintenance.readSummary(spark, dst).get
    assert(evolved.columns.toSeq ===
      Seq("category", "n_events", "sum_value"),
      "the migrated summary must carry the renamed key column")
    val got = evolved.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getDecimal(2))).toMap
    val want = events.filter(col("event_id") < 500).groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
    assert(got === want, "rename must not change the data")
    assert(SummaryMaintenance.lastBatchId(spark, dst) === 0L,
      "the committed id must carry over (lineage continuity)")
    spark.conf.set(SummaryMaintenance.CommitModeKey, "pointer")
    spark.conf.set(SummaryMaintenance.BucketsKey, "8")
    try {
      // the restarted stream feeds RENAMED batches under the NEW key:
      // replay of the carried id no-ops, the next id merges
      def renamedBatch(c: org.apache.spark.sql.Column) = events.filter(c)
        .withColumnRenamed("event_type", "category")
      SummaryMaintenance.applyBatch(spark, dst,
        renamedBatch(col("event_id") < 500), 0L, Seq("category"), "value")
      assert(SummaryMaintenance.readSummary(spark, dst).get
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDecimal(2))).toMap === got,
        "replay of the pre-migration id must no-op")
      SummaryMaintenance.applyBatch(spark, dst,
        renamedBatch(col("event_id") >= 500), 1L, Seq("category"), "value")
      // an OLD-name batch is exactly what the sidecar fence exists
      // for — fails loudly with the commit untouched
      val eOld = intercept[IllegalArgumentException] {
        SummaryMaintenance.applyBatch(spark, dst,
          events.filter(col("event_id") >= 500), 2L,
          Seq("event_type"), "value")
      }
      assert(eOld.getMessage.contains("committed schema"))
      // keyed serving under the new name routes through the renamed
      // stamp (same VALUES, same buckets)
      val k = got.keySet.head
      val row = SummaryMaintenance.readSummaryKey(spark, dst,
        Seq("category"), Seq(k)).collect()
      assert(row.length === 1 && row(0).getString(0) === k)
    } finally {
      spark.conf.unset(SummaryMaintenance.CommitModeKey)
      spark.conf.unset(SummaryMaintenance.BucketsKey)
    }
    // validations: protocol columns, absent sources, and no-op entries
    // are refused before anything is written
    intercept[IllegalArgumentException] {
      SummaryMaintenance.reshardToBuckets(spark, src, mkDir("p"),
        Seq("event_type"), 8, Map("n_events" -> "cnt"))
    }
    intercept[IllegalArgumentException] {
      SummaryMaintenance.reshardToBuckets(spark, src, mkDir("a"),
        Seq("nope2"), 8, Map("nope" -> "nope2"))
    }
    intercept[IllegalArgumentException] {
      SummaryMaintenance.reshardToBuckets(spark, src, mkDir("n"),
        Seq("event_type"), 8, Map("event_type" -> "event_type"))
    }
  }

  test("a persistent pointer-read fault surfaces as the deadline " +
      "error's CAUSE instead of masquerading as a torn write (r15, " +
      "ADVICE)") {
    // readPointer used to map every IOException to "torn" — a
    // permissions/connectivity fault spun the reader for the full
    // SwapWaitMs and then threw 'corrupt or abandoned' with the real
    // error swallowed. Simulate a persistent fault by making `_current`
    // a DIRECTORY: exists() is true, open() throws on every retry.
    import graft.streaming.SummaryMaintenance
    val sumDir = java.nio.file.Files
      .createTempDirectory("graft_sum_fault").toString
    val fs = new org.apache.hadoop.fs.Path(sumDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(sumDir, "_current"))
    val savedWait = SummaryMaintenance.SwapWaitMs
    SummaryMaintenance.SwapWaitMs = 200L
    try {
      val e = intercept[java.io.IOException] {
        SummaryMaintenance.readSummary(spark, sumDir)
      }
      assert(e.getCause != null,
        s"the persistent IO fault must ride along as the cause: $e")
      assert(e.getMessage.contains("last read error"),
        s"deadline message must name the underlying fault: ${e.getMessage}")
    } finally SummaryMaintenance.SwapWaitMs = savedWait
  }

  test("gate index reads refuse a flat-layout store instead of silently " +
      "reading an empty corpus (r14 review)") {
    // the explicit-schema reads treat `batch` as a partition column; on
    // a flat store that column would read all-NULL and the replay prune
    // would drop EVERY index row — the gate would then accept all
    // duplicates. requireBatchLayout turns that into a loud refusal.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_flat").toString + "/idx"
    val docs = Util.table(spark, "/root/testdata/sf0.001", "documents")
      .limit(20)
    // a flat (non-batch-keyed) parquet dir
    docs.select(xxhash64(col("text")).as("whash"))
      .write.mode("overwrite").parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    intercept[IllegalArgumentException] {
      Util.requireBatchLayout(fs, dir)
    }
    // batch-keyed and absent layouts pass
    Util.requireBatchLayout(fs, dir + "_absent")
    val keyed = java.nio.file.Files
      .createTempDirectory("graft_keyed").toString + "/idx"
    docs.select(xxhash64(col("text")).as("whash"))
      .write.mode("overwrite").parquet(s"$keyed/batch=0")
    Util.requireBatchLayout(fs, keyed)
    // the flat window-index writer also refuses to mix layouts
    graft.llm.SubstringDedup.writeWindowIndex(docs, "doc_id", "text", 8, dir)
    intercept[IllegalArgumentException] {
      graft.llm.SubstringDedup.putWindowIndexBatch(
        docs, "doc_id", "text", 8, dir, 0L)
    }
  }

  test("flatMapGroupsWithState emits per-group anomalies") {
    val events = Seq(
      EventsStream.UserEvent(1L, 1L, "view", 1.0),
      EventsStream.UserEvent(1L, 2L, "view", 1.0),
      EventsStream.UserEvent(1L, 3L, "view", 100.0), // >> 3x running mean
      EventsStream.UserEvent(2L, 4L, "view", 5.0)
    ).toDS()
    val out = EventsStream.userAnomalies(events).collect()
    assert(out.length === 1)
    assert(out(0).user_id === 1L && out(0).value === 100.0)
    // order-independence: shuffled input, many partitions — same result
    val shuffled = EventsStream.userAnomalies(
      events.orderBy(org.apache.spark.sql.functions.rand(7))
        .repartition(4).as[EventsStream.UserEvent]).collect()
    assert(shuffled.toSeq === out.toSeq)
  }

  test("mapGroupsWithState running totals == plain groupBy in batch") {
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id"), col("event_id").as("seq"), col("event_type"),
        col("value"))
      .as[EventsStream.UserEvent]
    val stateful = EventsStream.userRunningTotals(events)
      .collect().map(s => (s.user_id, s.n_events)).toMap
    val plain = events.groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(stateful === plain)
  }

  test("streaming ingest dedup gate rejects corpus dups AND dups of earlier accepted batches") {
    import graft.llm.Dedup
    val src = java.nio.file.Files.createTempDirectory("graft_gate_src").toString
    val out = java.nio.file.Files.createTempDirectory("graft_gate_out").toString
    val idx = java.nio.file.Files.createTempDirectory("graft_gate_idx").toString
    val chk = java.nio.file.Files.createTempDirectory("graft_gate_chk").toString
    val corpusText =
      "the quick brown fox jumps over the lazy dog again and again"
    val freshText1 =
      "structured streaming processes unbounded data as incremental batches"
    val freshText2 =
      "catalyst optimizes logical plans before tungsten executes them fast"
    // stored index over the existing corpus, seeded as the batch=-1 base
    // segment (the layout the exactly-once gate can batch-prune)
    val corpus = Seq((1L, corpusText)).toDF("doc_id", "text")
    Dedup.seedCorpusIndex(corpus, "doc_id", "text", idx)
    // batch 1 arrives before the stream starts: one corpus dup, one fresh
    Seq((10L, corpusText), (11L, freshText1)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    val q = graft.streaming.IngestDedup.dedupIngest(spark, src, idx, out,
      chk, "doc_id", "text", threshold = 0.8).start()
    q.processAllAvailable()
    // batch 2: one dup OF THE ACCEPTED doc 11 (tests the index append),
    // one corpus dup, one fresh
    Seq((20L, freshText1), (21L, corpusText), (22L, freshText2))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    val acceptedIds = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(acceptedIds === Set(11L, 22L))
    // the index grew by exactly the accepted docs
    val indexed = spark.read.parquet(s"$idx/docs")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(indexed === Set(1L, 11L, 22L))
    // restart from the same checkpoint: already-processed batches are NOT
    // replayed (no duplicate output/index rows), and a post-restart batch
    // still dedups against everything accepted before the restart
    Seq((30L, freshText2), (31L, corpusText)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    val q2 = graft.streaming.IngestDedup.dedupIngest(spark, src, idx, out,
      chk, "doc_id", "text", threshold = 0.8).start()
    q2.processAllAvailable()
    q2.stop()
    val afterRestart = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toList.sorted
    assert(afterRestart === List(11L, 22L)) // 30 dups 22's text, 31 corpus
    val indexedAfter = spark.read.parquet(s"$idx/docs")
      .select("id").collect().map(_.getLong(0)).toList.sorted
    assert(indexedAfter === List(1L, 11L, 22L))

    // THE 285d329 window, on the upgraded gate: a batch with accepted
    // docs goes down fully except the ledger stamp (crash after output +
    // index writes). The replay must OVERWRITE its own batch dirs — the
    // pre-r7 append-based gate re-appended the whole batch here,
    // duplicating corpus rows and index entries.
    val freshText3 =
      "window functions rank rows within partitions ordered by keys"
    val batch3 = Seq((40L, freshText3)).toDF("doc_id", "text")
    graft.streaming.IngestDedup.applyBatch(spark, batch3, 3L, idx, out,
      "doc_id", "text")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(
      new org.apache.hadoop.fs.Path(s"$idx/_committed/batch-3"), false)
    graft.streaming.IngestDedup.applyBatch(spark, batch3, 3L, idx, out,
      "doc_id", "text")
    assert(spark.read.parquet(out).select("doc_id").collect()
      .map(_.getLong(0)).toList.sorted === List(11L, 22L, 40L)) // no dup
    assert(spark.read.parquet(s"$idx/docs").select("id").collect()
      .map(_.getLong(0)).toList.sorted === List(1L, 11L, 22L, 40L))
    // committed-isolated reader agrees
    assert(graft.streaming.IngestDedup.corpus(spark, idx, out)
      .select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(11L, 22L, 40L))

    // compaction folds output + index into the base; the gate still
    // dedups against folded docs afterwards
    graft.streaming.IngestDedup.compact(spark, idx, out)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$idx/docs"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet ===
      Set("batch=-1"))
    graft.streaming.IngestDedup.applyBatch(spark,
      Seq((50L, freshText3), (51L, "totally novel content here nine words"))
        .toDF("doc_id", "text"), 4L, idx, out, "doc_id", "text")
    assert(graft.streaming.IngestDedup.corpus(spark, idx, out)
      .select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(11L, 22L, 40L, 51L)) // 50 dups folded 40

    // a legacy flat index layout is refused loudly, with the migration
    val flatIdx = java.nio.file.Files
      .createTempDirectory("graft_gate_flat").toString
    Dedup.writeCorpusIndex(corpus, "doc_id", "text", flatIdx)
    val e = intercept[IllegalArgumentException] {
      graft.streaming.IngestDedup.applyBatch(spark, batch3, 0L, flatIdx,
        java.nio.file.Files.createTempDirectory("graft_gate_fo").toString,
        "doc_id", "text")
    }
    assert(e.getMessage.contains("seedCorpusIndex"))

    // a HALF-WRITTEN seed (seedCorpusIndex crashed between its docs and
    // buckets writes) is refused with the rebuild instruction — routing
    // it to the gate branch would wedge every retry on PATH_NOT_FOUND
    val halfIdx = java.nio.file.Files
      .createTempDirectory("graft_gate_half").toString
    Dedup.seedCorpusIndex(corpus, "doc_id", "text", halfIdx)
    val hfs = new org.apache.hadoop.fs.Path(halfIdx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.delete(
      new org.apache.hadoop.fs.Path(s"$halfIdx/buckets/batch=-1"), true)
    val eh = intercept[IllegalArgumentException] {
      graft.streaming.IngestDedup.applyBatch(spark, batch3, 0L, halfIdx,
        java.nio.file.Files.createTempDirectory("graft_gate_ho").toString,
        "doc_id", "text")
    }
    assert(eh.getMessage.contains("half-written seed"))
  }

  test("quality-gated ingest routes failing batches to quarantine and keeps a metrics ledger") {
    import graft.quality.Expectations._
    val src = java.nio.file.Files.createTempDirectory("graft_qg_src").toString
    val out = java.nio.file.Files.createTempDirectory("graft_qg_out").toString
    val quar = java.nio.file.Files.createTempDirectory("graft_qg_quar").toString
    val met = java.nio.file.Files.createTempDirectory("graft_qg_met").toString
    val chk = java.nio.file.Files.createTempDirectory("graft_qg_chk").toString
    val exps = Seq(
      Expectation("id_complete", Completeness("id"), 1.0, 1.0),
      Expectation("score_band", MeanOf("score"), 0.0, 100.0))
    // batch 1: clean
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "score")
      .coalesce(1).write.mode("append").parquet(src)
    val q = graft.streaming.QualityStream.gatedIngest(
      spark, src, out, quar, met, chk, exps).start()
    q.processAllAvailable()
    // batch 2: a null id -> completeness fails -> whole batch quarantined
    Seq((Some(3L), 30.0), (None, 40.0))
      .toDF("id", "score")
      .coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(out).select("id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(spark.read.parquet(quar).count() === 2)
    val ledger = spark.read.parquet(met)
      .select("batch_id", "name", "pass").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSet
    assert(ledger.size === 4) // 2 batches x 2 expectations
    assert(ledger.filter(_._3 == false).map(_._2) === Set("id_complete"))
  }

  test("ingest store compaction preserves verdicts, replay, crash repair") {
    import graft.streaming.SimilarityIngest
    import org.apache.hadoop.fs.Path
    val p = SimilarityIngest.Params(windowK = 4, maxDupWindowRatio = 0.5)
    val A = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"
    val B = "mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray"
    val C = "one two three four five six seven eight nine ten eleven twelve"
    val D = "red orange yellow green blue indigo violet cyan magenta teal maroon navy"
    val stitched = (A.split(" ").take(6) ++ B.split(" ").take(6))
      .mkString(" ")
    val batches = Seq(
      Seq((1L, A), (2L, B), (3L, A)),
      Seq((10L, A), (11L, stitched), (12L, C)),
      Seq((20L, C), (21L, D), (22L, D)))
    def runGate(compactAfter: Option[Long]): (String, Set[(Long, String)]) = {
      val state = java.nio.file.Files
        .createTempDirectory("graft_compact").toString
      batches.zipWithIndex.foreach { case (b, i) =>
        SimilarityIngest.applyBatch(spark, state,
          b.toDF("doc_id", "text"), i.toLong, "doc_id", "text", p)
        if (compactAfter.contains(i.toLong))
          SimilarityIngest.compactIndexes(spark, state)
      }
      val d = SimilarityIngest.accepted(spark, state)
        .select(col("doc_id"), lit("accepted").as("status"))
        .unionByName(SimilarityIngest.quarantined(spark, state)
          .select(col("doc_id"), col("reason").as("status")))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      (state, d)
    }
    // control (never compacted) vs compacted-after-batch-1: batch 2 probes
    // the folded base + batch dirs and must reach identical verdicts
    val (_, control) = runGate(None)
    val (state, compacted) = runGate(Some(1L))
    assert(compacted === control)
    val fs = new Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // layout: batches 0..1 folded into batch=-1 everywhere; batch 2's own
    // subdirs intact; ledger pruned to its max marker at compact time
    for (leaf <- Seq("accepted", "quarantine", "minhash/docs",
        "minhash/buckets", "windows")) {
      val names = fs.listStatus(new Path(state, leaf))
        .filter(_.isDirectory).map(_.getPath.getName).toSet
      assert(names === Set("batch=-1", "batch=2"), leaf)
    }
    assert(SimilarityIngest.lastBatchId(spark, state) === 2L)
    // replay of the committed last batch after compaction: still a no-op
    SimilarityIngest.applyBatch(spark, state,
      Seq((99L, D)).toDF("doc_id", "text"), 2L, "doc_id", "text", p)
    // crash-window replay of batch 2 AGAINST the compacted base: prune its
    // own entries, keep the base, converge. Compacting in the crashed
    // state must clamp to the ledger (1) and leave batch 2's dirs alone.
    fs.delete(new Path(state, "_committed/batch-2"), false)
    // committed-read isolation: the half-committed batch's on-disk rows
    // are invisible through accepted()/quarantined() until it re-commits
    assert(SimilarityIngest.accepted(spark, state)
      .select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L, 12L))
    SimilarityIngest.compactIndexes(spark, state)
    assert(fs.exists(new Path(state, "minhash/docs/batch=2")))
    SimilarityIngest.applyBatch(spark, state,
      batches(2).toDF("doc_id", "text"), 2L, "doc_id", "text", p)
    val after = SimilarityIngest.accepted(spark, state)
      .select(col("doc_id"), lit("accepted").as("status"))
      .unionByName(SimilarityIngest.quarantined(spark, state)
        .select(col("doc_id"), col("reason").as("status")))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after === control)
    // accepted() before any commit: loud, typed failure (no schema exists)
    val empty = java.nio.file.Files
      .createTempDirectory("graft_compact_empty").toString
    intercept[IllegalStateException] {
      SimilarityIngest.accepted(spark, empty)
    }
    // crash DURING a fold, phase A complete (_SUCCESS down): repair
    // finishes the destructive phase — batch dirs fold into the base
    val leaf = java.nio.file.Files
      .createTempDirectory("graft_fold_leaf").toString
    graft.llm.SubstringDedup.putWindowIndexBatch(
      Seq((1L, A)).toDF("doc_id", "text"), "doc_id", "text", 4, leaf, 0L)
    graft.llm.SubstringDedup.putWindowIndexBatch(
      Seq((2L, B)).toDF("doc_id", "text"), "doc_id", "text", 4, leaf, 1L)
    val want = spark.read.parquet(leaf).select("whash")
      .collect().map(_.getLong(0)).toSet
    spark.read.parquet(leaf).drop("batch")
      .write.parquet(s"$leaf/.__graft_fold_tmp-1")
    graft.io.Parquet.repairBatchStore(spark, leaf)
    val lfs = new Path(leaf)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(lfs.listStatus(new Path(leaf)).filter(_.isDirectory)
      .map(_.getPath.getName).toSet === Set("batch=-1"))
    assert(spark.read.parquet(leaf).select("whash")
      .collect().map(_.getLong(0)).toSet === want)
    // crash during phase A (no _SUCCESS): repair rolls back, originals
    // untouched
    graft.llm.SubstringDedup.putWindowIndexBatch(
      Seq((3L, C)).toDF("doc_id", "text"), "doc_id", "text", 4, leaf, 2L)
    spark.read.parquet(leaf).drop("batch")
      .write.parquet(s"$leaf/.__graft_fold_tmp-2")
    lfs.delete(new Path(s"$leaf/.__graft_fold_tmp-2/_SUCCESS"), false)
    graft.io.Parquet.repairBatchStore(spark, leaf)
    assert(lfs.listStatus(new Path(leaf)).filter(_.isDirectory)
      .map(_.getPath.getName).toSet === Set("batch=-1", "batch=2"))
  }

  test("compaction lock: live fold blocks applyBatch and a second " +
      "compaction loudly; a stale lock is broken automatically") {
    import graft.streaming.{BatchLedger, SimilarityIngest}
    import org.apache.hadoop.fs.Path
    val p = SimilarityIngest.Params(windowK = 4, maxDupWindowRatio = 0.5)
    val A = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    val B = "mike november oscar papa quebec romeo sierra tango uniform victor"
    val C = "one two three four five six seven eight nine ten eleven twelve"
    val state = java.nio.file.Files.createTempDirectory("graft_lock").toString
    SimilarityIngest.applyBatch(spark, state,
      Seq((1L, A)).toDF("doc_id", "text"), 0L, "doc_id", "text", p)
    val fs = new Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new Path(state, BatchLedger.CompactLockName)
    // simulated IN-PROGRESS compaction: a fresh lock marker (a live
    // compactor heartbeats its mtime, so fresh == live)
    fs.create(lock, false).close()
    val e = intercept[IllegalStateException] {
      SimilarityIngest.applyBatch(spark, state,
        Seq((2L, B)).toDF("doc_id", "text"), 1L, "doc_id", "text", p)
    }
    assert(e.getMessage.contains("compaction") &&
      e.getMessage.contains(BatchLedger.CompactLockName))
    // the batch backed out cleanly: its own _gate.lock was released
    assert(!fs.exists(new Path(state, BatchLedger.GateLockName)))
    // a second compaction is refused just as loudly
    val e2 = intercept[IllegalStateException] {
      SimilarityIngest.compactIndexes(spark, state)
    }
    assert(e2.getMessage.contains("compaction"))
    // no verdict escaped the refused batch
    assert(SimilarityIngest.lastBatchId(spark, state) === 0L)
    // STALE lock (holder crashed — no heartbeat for LockStaleMs): broken
    // automatically, the batch proceeds, crash repair semantics unchanged
    fs.setTimes(lock,
      System.currentTimeMillis() - BatchLedger.LockStaleMs - 60000L, -1L)
    SimilarityIngest.applyBatch(spark, state,
      Seq((2L, B)).toDF("doc_id", "text"), 1L, "doc_id", "text", p)
    assert(!fs.exists(lock))
    assert(SimilarityIngest.lastBatchId(spark, state) === 1L)
    // simultaneous-start resolution: the gate POLLS through its grace
    // window, so a compaction that backs out (marker vanishing moments
    // after the gate first sees it) lets the batch proceed instead of
    // killing both sides
    fs.create(lock, false).close()
    val deleter = new Thread(() => {
      Thread.sleep(1500)
      fs.delete(lock, false)
    })
    deleter.start()
    SimilarityIngest.applyBatch(spark, state,
      Seq((3L, C)).toDF("doc_id", "text"), 2L, "doc_id", "text", p)
    deleter.join()
    assert(SimilarityIngest.lastBatchId(spark, state) === 2L)
    // the REVERSE direction (r10 review fix): a live micro-batch's
    // _gate.lock blocks a compaction starting mid-batch — previously
    // only the batch-starts-second interleaving failed loudly
    val gate = new Path(state, BatchLedger.GateLockName)
    fs.create(gate, false).close()
    val e3 = intercept[IllegalStateException] {
      SimilarityIngest.compactIndexes(spark, state)
    }
    assert(e3.getMessage.contains(BatchLedger.GateLockName))
    // and the refused compaction released its own marker on the way out
    assert(!fs.exists(lock))
    // a stale gate marker (crashed batch) is broken and compaction runs
    fs.setTimes(gate,
      System.currentTimeMillis() - BatchLedger.LockStaleMs - 60000L, -1L)
    // a healthy compaction takes and RELEASES the lock
    SimilarityIngest.compactIndexes(spark, state)
    assert(!fs.exists(lock) && !fs.exists(gate))
    assert(SimilarityIngest.accepted(spark, state)
      .select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L, 3L))
  }

  test("lock heartbeat falls back to overwrite-create where setTimes is " +
      "unsupported (object-store shape)") {
    // Pins the r11 fix for the object-store heartbeat gap: stores like
    // S3A reject setTimes, and before the fallback a legitimate hold
    // longer than LockStaleMs went "stale" and was broken by a
    // competitor. A FilterFileSystem that throws on setTimes models the
    // store; the fallback must refresh the marker's mtime anyway.
    import graft.streaming.BatchLedger
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft_hb").toString
    val marker = new Path(dir, BatchLedger.CompactLockName)
    val raw = marker
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val token = "11111111-1111-1111-1111-111111111111"
    def writeMarker(content: String): Unit = {
      val out = raw.create(marker, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    writeMarker(token)
    val past = System.currentTimeMillis() - 120000L
    raw.setTimes(marker, past, -1L)
    assert(raw.getFileStatus(marker).getModificationTime === past)
    val noSetTimes = new org.apache.hadoop.fs.FilterFileSystem(raw) {
      override def setTimes(p: Path, m: Long, a: Long): Unit =
        throw new UnsupportedOperationException("setTimes not supported")
    }
    assert(BatchLedger.refreshMtime(noSetTimes, marker, token).isEmpty,
      "overwrite-create fallback must succeed where setTimes throws")
    val after = raw.getFileStatus(marker).getModificationTime
    assert(after > past && System.currentTimeMillis() - after < 60000L,
      s"fallback must refresh the marker mtime (got $after, was $past)")
    val content = {
      val in = raw.open(marker)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    assert(content === token,
      "the refreshed marker must preserve the hold token")
    // both paths dead: failure is RETURNED for the warn-once log, never
    // thrown into the fold, and the marker is left alone
    raw.setTimes(marker, past, -1L)
    val dead = new org.apache.hadoop.fs.FilterFileSystem(raw) {
      override def setTimes(p: Path, m: Long, a: Long): Unit =
        throw new UnsupportedOperationException("setTimes not supported")
      override def create(p: Path, overwrite: Boolean)
          : org.apache.hadoop.fs.FSDataOutputStream =
        throw new java.io.IOException("create not supported either")
    }
    val failure = BatchLedger.refreshMtime(dead, marker, token)
    assert(failure.exists(_.isInstanceOf[java.io.IOException]))
    assert(raw.exists(marker) &&
      raw.getFileStatus(marker).getModificationTime === past)
    // TAKEN-OVER marker (r12): a competitor broke this hold as stale and
    // reacquired — the marker carries THEIR token. The fallback must
    // refuse to clobber it and surface the loss instead (the pre-r12
    // exists→create fallback would have silently resurrected our hold
    // over the competitor's, and our release would then delete THEIR
    // marker).
    writeMarker("22222222-2222-2222-2222-222222222222")
    val taken = BatchLedger.refreshMtime(noSetTimes, marker, token)
    assert(taken.exists(_.isInstanceOf[IllegalStateException]),
      "a foreign-token marker must surface hold-lost, not refresh")
    val contentAfter = {
      val in = raw.open(marker)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    assert(contentAfter === "22222222-2222-2222-2222-222222222222",
      "the competitor's marker must be left untouched")
    // VANISHED marker = the hold was LOST (competitor broke it as stale
    // while this holder was paused). The beat must NEVER resurrect it —
    // an overwrite-create here would squat on the competitor's fresh
    // reacquisition and our release would then delete THEIR marker.
    raw.delete(marker, false)
    val lost = BatchLedger.refreshMtime(raw, marker, token)
    assert(lost.exists(_.isInstanceOf[java.io.FileNotFoundException]))
    assert(!raw.exists(marker), "a lost hold must not be resurrected")
    val lostNoSetTimes = BatchLedger.refreshMtime(noSetTimes, marker, token)
    assert(lostNoSetTimes.exists(_.isInstanceOf[java.io.FileNotFoundException]))
    assert(!raw.exists(marker),
      "the overwrite-create fallback must not resurrect a lost hold either")
  }

  test("lock heartbeat detects a same-side clobber on setTimes-capable " +
      "stores (token check on EVERY beat)") {
    // r12: on stores whose rename silently REPLACES the destination
    // (POSIX rename(2)), two same-side acquirers racing inside
    // acquireMarker's rename-to-read-back window can BOTH read their own
    // token. The pre-r12 happy path refreshed via a token-blind setTimes,
    // so the clobbered holder kept refreshing the COMPETITOR's marker
    // forever and the double-hold never surfaced. Pin: a beat against a
    // foreign-token marker must report the hold LOST even where setTimes
    // works fine, and must not touch the marker.
    import graft.streaming.BatchLedger
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files
      .createTempDirectory("graft_clobber").toString
    val marker = new Path(dir, BatchLedger.CompactLockName)
    val raw = marker
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mine = BatchLedger.acquireMarker(raw, marker)
    // a healthy beat refreshes and keeps the token
    val past = System.currentTimeMillis() - 120000L
    raw.setTimes(marker, past, -1L)
    assert(BatchLedger.refreshMtime(raw, marker, mine).isEmpty)
    assert(raw.getFileStatus(marker).getModificationTime > past)
    // the competitor's rename lands over our marker (what an
    // overwriting-rename store does when both acquirers raced)
    val theirs = "99999999-9999-9999-9999-999999999999"
    val out = raw.create(marker, true)
    try out.write(theirs.getBytes("UTF-8")) finally out.close()
    raw.setTimes(marker, past, -1L)
    val lost = BatchLedger.refreshMtime(raw, marker, mine)
    assert(lost.exists(_.isInstanceOf[IllegalStateException]),
      "a foreign-token marker must surface hold-lost on the setTimes " +
        "path too, not just the object-store fallback")
    assert(raw.getFileStatus(marker).getModificationTime === past,
      "the competitor's marker mtime must be left untouched")
    val content = {
      val in = raw.open(marker)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    assert(content === theirs)
  }

  test("write-side fence: a lost hold REFUSES its destructive phases " +
      "(prevention, not one-heartbeat detection)") {
    // r13 (VERDICT #4): a hold lost to a POSIX-rename double-win used to
    // be DETECTED within one heartbeat, but mutations inside that
    // latency ran unfenced. Now every destructive site re-verifies the
    // token immediately before mutating. Simulate the double-win: while
    // we hold _compact.lock, a competitor's overwriting rename replaces
    // the marker with THEIR token.
    import graft.streaming.BatchLedger
    import org.apache.hadoop.fs.Path
    val state = java.nio.file.Files
      .createTempDirectory("graft_fence").toString
    val marker = new Path(state, BatchLedger.CompactLockName)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def clobber(): Unit = {
      val out = fs.create(marker, true)
      try out.write("99999999-9999-9999-9999-999999999999".getBytes("UTF-8"))
      finally out.close()
    }
    // 1) the ledger stamp (a batch's commit record) refuses
    val e1 = intercept[IllegalStateException] {
      BatchLedger.withCompactionLock(spark, state) {
        clobber()
        BatchLedger.stamp(spark, state, 0L)
      }
    }
    assert(e1.getMessage.contains("refusing destructive phase"))
    assert(BatchLedger.last(spark, state) === -1L,
      "the refused stamp must not have committed")
    assert(fs.exists(marker),
      "release must leave the competitor's marker in place")
    fs.delete(marker, false)
    // 2) a compaction fold's phase B refuses BEFORE deleting batch dirs
    val store = s"$state/store"
    Seq((1L, "a")).toDF("k", "v")
      .write.parquet(s"$store/batch=0")
    Seq((2L, "b")).toDF("k", "v")
      .write.parquet(s"$store/batch=1")
    val e2 = intercept[IllegalStateException] {
      BatchLedger.withCompactionLock(spark, state) {
        clobber()
        graft.io.Parquet.compactBatchStore(spark, store, 1L)
      }
    }
    assert(e2.getMessage.contains("refusing destructive phase"))
    assert(fs.exists(new Path(s"$store/batch=0")) &&
      fs.exists(new Path(s"$store/batch=1")),
      "the refused fold must leave every committed batch dir intact")
    fs.delete(marker, false)
    // 3) positive path: with an intact hold the same operations commit
    BatchLedger.withCompactionLock(spark, state) {
      BatchLedger.stamp(spark, state, 0L)
      graft.io.Parquet.compactBatchStore(spark, store, 1L)
    }
    assert(BatchLedger.last(spark, state) === 0L)
    assert(fs.exists(new Path(s"$store/batch=-1")) &&
      !fs.exists(new Path(s"$store/batch=0")))
    assert(spark.read.parquet(store).count() === 2L)
    // 4) outside any lock scope the fence is a no-op (library callers)
    graft.io.Parquet.compactBatchStore(spark, store, 1L)
    BatchLedger.stamp(spark, state, 1L)
    assert(BatchLedger.last(spark, state) === 1L)
  }

  test("lock acquisition: a rename IO fault is surfaced as a store " +
      "fault, not misdiagnosed as contention") {
    // r12: S3A renames are copy+delete and can throw on transient
    // throttling. Mapping that to "another holder is active — wait 3
    // minutes" sends the operator chasing a lock nobody holds; the real
    // cause must stay chained in the thrown error.
    import graft.streaming.BatchLedger
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files
      .createTempDirectory("graft_renameio").toString
    val marker = new Path(dir, BatchLedger.CompactLockName)
    val raw = marker
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val flaky = new org.apache.hadoop.fs.FilterFileSystem(raw) {
      override def rename(src: Path, dst: Path): Boolean =
        throw new java.io.IOException("simulated store throttle")
    }
    val e = intercept[java.io.UncheckedIOException] {
      BatchLedger.acquireMarker(flaky, marker)
    }
    assert(e.getMessage.contains("NOT lock contention"))
    assert(e.getCause.getMessage.contains("simulated store throttle"),
      "the original fault must stay chained")
    assert(!raw.exists(marker), "no marker may be left behind")
    // and no temp litter either
    val kids = raw.listStatus(new Path(dir))
    assert(kids.forall(!_.getPath.getName.endsWith(".tmp")),
      s"temp litter left: ${kids.map(_.getPath.getName).mkString(",")}")
    // a rename returning FALSE (checking stores refuse when the
    // destination exists — HDFS semantics; the POSIX-backed local FS
    // instead REPLACES, which is the overwriting shape the heartbeat
    // token check covers) is still diagnosed as contention
    val checking = new org.apache.hadoop.fs.FilterFileSystem(raw) {
      override def rename(src: Path, dst: Path): Boolean = false
    }
    val held = intercept[IllegalStateException] {
      BatchLedger.acquireMarker(checking, marker)
    }
    assert(held.getMessage.contains("another holder is active"))
    assert(raw.listStatus(new Path(dir))
        .forall(!_.getPath.getName.endsWith(".tmp")),
      "the refused-rename path must clean its temp too")
  }

  test("lock protocol under real simultaneous starts: never overlapping, " +
      "gate always wins") {
    // the protocol's two claims, pinned under actual thread races:
    // (1) the two critical sections NEVER overlap (each side creates its
    // own marker before checking the other's, so at least one side must
    // observe the other), and (2) the GATE always completes — either the
    // fold backed out on seeing the gate's marker, or it ran to
    // completion first and the gate's grace poll outlives it.
    import graft.streaming.BatchLedger
    val state = java.nio.file.Files
      .createTempDirectory("graft_lockrace").toString
    val inCritical = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var overlapped = false
    def critical(): Unit = {
      if (inCritical.incrementAndGet() > 1) overlapped = true
      Thread.sleep(150)
      inCritical.decrementAndGet()
    }
    var gateOk, compactOk, compactRefused = 0
    (1 to 6).foreach { _ =>
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      @volatile var gateWon = false
      @volatile var gateErr: Throwable = null
      val tg = new Thread(() => {
        barrier.await()
        try { BatchLedger.withGateLock(spark, state)(critical()); gateWon = true }
        catch { case e: Throwable => gateErr = e }
      })
      val tc = new Thread(() => {
        barrier.await()
        try { BatchLedger.withCompactionLock(spark, state)(critical()); compactOk += 1 }
        catch { case _: IllegalStateException => compactRefused += 1 }
      })
      tg.start(); tc.start(); tg.join(30000); tc.join(30000)
      if (gateErr != null) throw gateErr
      if (gateWon) gateOk += 1
    }
    assert(!overlapped, "critical sections overlapped — the lock raced")
    assert(gateOk === 6, "the gate must always complete")
    assert(compactOk + compactRefused === 6)
    // markers always released
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(state,
      BatchLedger.GateLockName)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(state,
      BatchLedger.CompactLockName)))
  }

  test("similarity ingest gate: both indexes, cross-batch, replay-proof") {
    import graft.streaming.SimilarityIngest
    val state = java.nio.file.Files
      .createTempDirectory("graft_simingest").toString
    val p = SimilarityIngest.Params(windowK = 4, maxDupWindowRatio = 0.5)
    val A = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"
    val B = "mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray"
    val C = "one two three four five six seven eight nine ten eleven twelve"
    val D = "red orange yellow green blue indigo violet cyan magenta teal maroon navy"
    // the stitched-boilerplate class: half of A + half of B — a MinHash
    // near-dup of NEITHER whole doc (shared shingles ~25%), but 6 of its
    // 9 4-token windows already live in the corpus (ratio 0.67 >= 0.5)
    val stitched = (A.split(" ").take(6) ++ B.split(" ").take(6))
      .mkString(" ")

    // batch 0 bootstraps: doc 3 is an intra-batch EXACT dup of doc 1 —
    // since r9 the intra saturation pass (min-id window coverage) runs
    // first, so it reads substring_dup, not the CC pass's near_dup
    SimilarityIngest.applyBatch(spark, state,
      Seq((1L, A), (2L, B), (3L, A)).toDF("doc_id", "text"), 0L,
      "doc_id", "text", p)
    // batch 1: corpus near-dup, stitched substring-dup, one fresh
    SimilarityIngest.applyBatch(spark, state,
      Seq((10L, A), (11L, stitched), (12L, C)).toDF("doc_id", "text"), 1L,
      "doc_id", "text", p)
    // batch 2: near-dup of BATCH-1-accepted doc 12 (cross-batch index
    // growth), one fresh, and an INTRA-batch dup of the fresh doc (both
    // are new to the corpus, so only the in-batch passes can catch it;
    // min id 21 is kept, 22 is window-covered by 21 → substring_dup)
    val batch2 = Seq((20L, C), (21L, D), (22L, D)).toDF("doc_id", "text")
    SimilarityIngest.applyBatch(spark, state, batch2, 2L,
      "doc_id", "text", p)

    def disposition() = {
      val acc = SimilarityIngest.accepted(spark, state)
        .select(col("doc_id"), lit("accepted").as("status"))
      val quar = SimilarityIngest.quarantined(spark, state)
        .select(col("doc_id"), col("reason").as("status"))
      acc.unionByName(quar).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    }
    val expected = Set(
      1L -> "accepted", 2L -> "accepted", 3L -> "substring_dup",
      10L -> "near_dup", 11L -> "substring_dup", 12L -> "accepted",
      20L -> "near_dup", 21L -> "accepted", 22L -> "substring_dup")
    assert(disposition() === expected)

    // replay of the committed LAST batch: no-op (exactly-once ledger)
    SimilarityIngest.applyBatch(spark, state,
      Seq((99L, D)).toDF("doc_id", "text"), 2L, "doc_id", "text", p)
    assert(disposition() === expected)
    assert(SimilarityIngest.lastBatchId(spark, state) === 2L)
    // an OLDER id can only mean a fresh checkpoint pointed at this
    // state dir (same-run replays only re-deliver the last batch):
    // loud failure, not a silent batch drop
    intercept[IllegalArgumentException] {
      SimilarityIngest.applyBatch(spark, state,
        Seq((99L, D)).toDF("doc_id", "text"), 1L, "doc_id", "text", p)
    }
    assert(disposition() === expected)

    // crash-window replay: batch 2's commit marker is gone but its
    // outputs AND index entries are already down — the re-run must prune
    // its own half-committed entries (no self-matching) and converge on
    // the identical final state
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(
      new org.apache.hadoop.fs.Path(state, "_committed/batch-2"), false)
    SimilarityIngest.applyBatch(spark, state, batch2, 2L,
      "doc_id", "text", p)
    assert(disposition() === expected)
    assert(SimilarityIngest.lastBatchId(spark, state) === 2L)

    // BOOTSTRAP crash-window replay: batch 0 wrote its outputs and the
    // minhash index but crashed before the window index and the stamp.
    // The replay must re-enter the bootstrap branch (stamp-based
    // detection) — not wedge on the missing windows/ read, and not skip
    // the intra-batch self-dedup
    val state3 = java.nio.file.Files
      .createTempDirectory("graft_simingest_bs").toString
    val batch0 = Seq((1L, A), (2L, B), (3L, A)).toDF("doc_id", "text")
    SimilarityIngest.applyBatch(spark, state3, batch0, 0L,
      "doc_id", "text", p)
    val fs3 = new org.apache.hadoop.fs.Path(state3)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs3.delete(
      new org.apache.hadoop.fs.Path(state3, "_committed/batch-0"), false)
    fs3.delete(new org.apache.hadoop.fs.Path(state3, "windows"), true)
    SimilarityIngest.applyBatch(spark, state3, batch0, 0L,
      "doc_id", "text", p)
    assert(SimilarityIngest.accepted(spark, state3)
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(SimilarityIngest.quarantined(spark, state3)
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(3L))
    // and the stream proceeds normally from the repaired state
    SimilarityIngest.applyBatch(spark, state3,
      Seq((10L, A), (12L, C)).toDF("doc_id", "text"), 1L,
      "doc_id", "text", p)
    assert(SimilarityIngest.accepted(spark, state3)
      .select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L, 12L))

    // the streaming form composes the same gate: fresh state, file
    // source, two micro-batches
    val src = java.nio.file.Files
      .createTempDirectory("graft_simingest_src").toString
    val chk = java.nio.file.Files
      .createTempDirectory("graft_simingest_chk").toString
    val state2 = java.nio.file.Files
      .createTempDirectory("graft_simingest_st2").toString
    Seq((1L, A), (2L, B)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    val q = SimilarityIngest.ingest(spark, src, state2, chk,
      "doc_id", "text", p).start()
    q.processAllAvailable()
    Seq((10L, A), (11L, stitched), (12L, C)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    val acc2 = SimilarityIngest.accepted(spark, state2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(acc2 === Set(1L, 2L, 12L))
    val quar2 = SimilarityIngest.quarantined(spark, state2)
      .select("doc_id", "reason").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(quar2 === Set(10L -> "near_dup", 11L -> "substring_dup"))
  }

  test("embedding ingest gate: cross-batch, intra-batch, compaction, replay-proof") {
    import graft.streaming.EmbeddingIngest
    val state = java.nio.file.Files
      .createTempDirectory("graft_embingest").toString
    val p = EmbeddingIngest.Params(tau = 0.9, bits = 4)
    // unit directions are mutually orthogonal (cosine 0 — far below tau);
    // a duplicate is the same direction (cosine 1). All-nonnegative
    // vectors share one sign cell, which exercises the within-cell gate;
    // vNeg flips the first sign and lands in a different cell entirely.
    def unit(d: Int): Seq[Float] =
      Seq.tabulate(8)(i => if (i == d) 1f else 0f)
    val vNeg: Seq[Float] = Seq(-1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)

    // batch 0 bootstraps: id 3 is an intra-batch dup of id 1
    EmbeddingIngest.applyBatch(spark, state,
      Seq((1L, unit(0)), (2L, unit(1)), (3L, unit(0)))
        .toDF("vec_id", "embedding"), 0L, "vec_id", "embedding", p)
    // batch 1: corpus dup of id 1, one fresh direction, one fresh in a
    // DIFFERENT sign cell (negative first dim — cosine −1 vs id 1)
    EmbeddingIngest.applyBatch(spark, state,
      Seq((10L, unit(0)), (11L, unit(2)), (12L, vNeg))
        .toDF("vec_id", "embedding"), 1L, "vec_id", "embedding", p)
    // fold batches 0..1 into the compacted base mid-stream: batch 2
    // must probe the folded index and keep identical semantics
    EmbeddingIngest.compactIndexes(spark, state)
    // batch 2: dup of BATCH-1-accepted id 11 (cross-batch growth via the
    // compacted base), one fresh, and an intra-batch dup of the fresh
    val batch2 = Seq((20L, unit(2)), (21L, unit(3)), (22L, unit(3)))
      .toDF("vec_id", "embedding")
    EmbeddingIngest.applyBatch(spark, state, batch2, 2L,
      "vec_id", "embedding", p)

    def disposition() = {
      val acc = EmbeddingIngest.accepted(spark, state)
        .select(col("vec_id"), lit("accepted").as("status"))
      val quar = EmbeddingIngest.quarantined(spark, state)
        .select(col("vec_id"), col("reason").as("status"))
      acc.unionByName(quar).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    }
    val expected = Set(
      1L -> "accepted", 2L -> "accepted", 3L -> "near_dup",
      10L -> "near_dup", 11L -> "accepted", 12L -> "accepted",
      20L -> "near_dup", 21L -> "accepted", 22L -> "near_dup")
    assert(disposition() === expected)

    // stamped replay: no-op. Older id: loud failure, not a silent drop.
    EmbeddingIngest.applyBatch(spark, state,
      Seq((99L, unit(4))).toDF("vec_id", "embedding"), 2L,
      "vec_id", "embedding", p)
    assert(disposition() === expected)
    intercept[IllegalArgumentException] {
      EmbeddingIngest.applyBatch(spark, state,
        Seq((99L, unit(4))).toDF("vec_id", "embedding"), 1L,
        "vec_id", "embedding", p)
    }

    // crash-window replay: batch 2's marker is gone but its outputs and
    // index rows are down — the re-run prunes its own entries (no
    // self-matching) and converges on the identical state, with no
    // duplicate index rows for the replayed batch
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(
      new org.apache.hadoop.fs.Path(state, "_committed/batch-2"), false)
    EmbeddingIngest.applyBatch(spark, state, batch2, 2L,
      "vec_id", "embedding", p)
    assert(disposition() === expected)
    assert(EmbeddingIngest.lastBatchId(spark, state) === 2L)
    val idxRows = spark.read.parquet(s"$state/semantic/cells")
      .filter(col("batch") === 2L).select("id").collect()
      .map(_.getLong(0)).toSeq
    assert(idxRows.sorted === Seq(21L), "replay must overwrite, not append")

    // BOOTSTRAP crash-window replay: batch 0 wrote its outputs but
    // crashed before the index write and the stamp — the replay must
    // re-enter the bootstrap branch (stamp-based detection), not wedge
    // on a missing index read
    val stateB = java.nio.file.Files
      .createTempDirectory("graft_embingest_bs").toString
    val batch0 = Seq((1L, unit(0)), (2L, unit(1)), (3L, unit(0)))
      .toDF("vec_id", "embedding")
    EmbeddingIngest.applyBatch(spark, stateB, batch0, 0L,
      "vec_id", "embedding", p)
    val fsB = new org.apache.hadoop.fs.Path(stateB)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsB.delete(
      new org.apache.hadoop.fs.Path(stateB, "_committed/batch-0"), false)
    fsB.delete(new org.apache.hadoop.fs.Path(stateB, "semantic"), true)
    EmbeddingIngest.applyBatch(spark, stateB, batch0, 0L,
      "vec_id", "embedding", p)
    assert(EmbeddingIngest.accepted(spark, stateB)
      .select("vec_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    EmbeddingIngest.applyBatch(spark, stateB,
      Seq((10L, unit(0)), (11L, unit(2))).toDF("vec_id", "embedding"), 1L,
      "vec_id", "embedding", p)
    assert(EmbeddingIngest.accepted(spark, stateB)
      .select("vec_id").collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L, 11L))

    // mixed-layout refusals: flat append into a batch-keyed store and a
    // batch-keyed put into a flat store both fail loudly
    intercept[IllegalArgumentException] {
      graft.llm.Dedup.appendSemanticIndex(batch0, "vec_id", "embedding",
        s"$stateB/semantic", bits = 4)
    }
    val flatDir = java.nio.file.Files
      .createTempDirectory("graft_semflat").toString
    graft.llm.Dedup.writeSemanticIndex(batch0, "vec_id", "embedding", flatDir,
      bits = 4)
    intercept[IllegalArgumentException] {
      graft.llm.Dedup.putSemanticIndexBatch(batch0, "vec_id", "embedding", flatDir,
        0L, bits = 4)
    }

    // PRE-SEEDED store: a batch=-1 semantic index (the seedCorpusIndex
    // pattern) must route the FIRST batch through the gate branch — a
    // self-dedup-only bootstrap would silently accept seed duplicates
    val stateS = java.nio.file.Files
      .createTempDirectory("graft_embingest_seed").toString
    graft.llm.Dedup.putSemanticIndexBatch(
      Seq((900L, unit(0)), (901L, unit(1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$stateS/semantic", -1L, bits = 4)
    EmbeddingIngest.applyBatch(spark, stateS,
      Seq((1L, unit(0)), (2L, unit(5))).toDF("vec_id", "embedding"), 0L,
      "vec_id", "embedding", p)
    assert(EmbeddingIngest.accepted(spark, stateS)
      .select("vec_id").collect().map(_.getLong(0)).toSet === Set(2L))
    assert(EmbeddingIngest.quarantined(spark, stateS)
      .select("vec_id", "reason").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set(1L -> "near_dup"), "seed duplicates must quarantine")

    // the streaming form composes the same gate
    val src = java.nio.file.Files
      .createTempDirectory("graft_embingest_src").toString
    val chk = java.nio.file.Files
      .createTempDirectory("graft_embingest_chk").toString
    val state2 = java.nio.file.Files
      .createTempDirectory("graft_embingest_st2").toString
    Seq((1L, unit(0)), (2L, unit(1))).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(src)
    val q = EmbeddingIngest.ingest(spark, src, state2, chk,
      "vec_id", "embedding", p).start()
    q.processAllAvailable()
    Seq((10L, unit(0)), (11L, unit(2))).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    assert(EmbeddingIngest.accepted(spark, state2)
      .select("vec_id").collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L, 11L))
    assert(EmbeddingIngest.quarantined(spark, state2)
      .select("vec_id", "reason").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set(10L -> "near_dup"))
  }

  test("similarity ingest: pre-seeded indexes gate batch 0, partial seed refused") {
    import graft.streaming.SimilarityIngest
    import graft.llm.{Dedup, SubstringDedup}
    val p = SimilarityIngest.Params(windowK = 4, maxDupWindowRatio = 0.5)
    val A = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    val B = "mike november oscar papa quebec romeo sierra tango uniform victor"
    val fresh = "one two three four five six seven eight nine ten"
    val corpus = Seq((100L, A), (101L, B)).toDF("doc_id", "text")
    // seed BOTH stores at batch=-1 (the documented pre-load pattern)
    val state = java.nio.file.Files
      .createTempDirectory("graft_seedgate").toString
    Dedup.seedCorpusIndex(corpus, "doc_id", "text", s"$state/minhash",
      p.shingleN, p.numHashes, p.bands)
    SubstringDedup.putWindowIndexBatch(corpus, "doc_id", "text",
      p.windowK, s"$state/windows", -1L)
    // batch 0 must route through the GATE branch: the dup of seed doc A
    // quarantines (a self-dedup-only bootstrap would accept it forever)
    SimilarityIngest.applyBatch(spark, state,
      Seq((1L, A), (2L, fresh)).toDF("doc_id", "text"), 0L,
      "doc_id", "text", p)
    assert(SimilarityIngest.accepted(spark, state)
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(2L))
    assert(SimilarityIngest.quarantined(spark, state)
      .select("doc_id", "reason").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set(1L -> "near_dup"))
    // a HALF-seeded state (one index, not the other) is refused loudly
    // instead of silently skipping a gate or crashing on a missing read
    val half = java.nio.file.Files
      .createTempDirectory("graft_halfseed").toString
    Dedup.seedCorpusIndex(corpus, "doc_id", "text", s"$half/minhash",
      p.shingleN, p.numHashes, p.bands)
    val e = intercept[IllegalArgumentException] {
      SimilarityIngest.applyBatch(spark, half,
        Seq((1L, fresh)).toDF("doc_id", "text"), 0L, "doc_id", "text", p)
    }
    assert(e.getMessage.contains("partially seeded"))
  }

  test("similarity ingest: uneven batch=-1 bases after a commit do not wedge") {
    import graft.streaming.{IngestDedup, SimilarityIngest}
    val p = SimilarityIngest.Params(windowK = 4, maxDupWindowRatio = 0.5)
    val A = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    val fresh = "one two three four five six seven eight nine ten"
    // compactStores folds a gate's stores CONCURRENTLY — a crash can leave
    // ONE store fully folded into batch=-1 while another never started.
    // Simulate the worst asymmetry per gate: the MinHash docs table
    // folded, the other index store untouched (no tmp dir, so
    // repairBatchStore has nothing to finish). The next batch must run
    // normally — not fail the half-seed guard, which only applies BEFORE
    // the first commit.
    val gates = Seq[(String, (String, Seq[(Long, String)], Long) => Unit,
        String => String, String => Set[Long])](
      ("similarity",
        (state, docs, id) => SimilarityIngest.applyBatch(spark, state,
          docs.toDF("doc_id", "text"), id, "doc_id", "text", p),
        state => s"$state/minhash/docs",
        state => SimilarityIngest.accepted(spark, state)
          .select("doc_id").collect().map(_.getLong(0)).toSet),
      ("dedup",
        (state, docs, id) => IngestDedup.applyBatch(spark,
          docs.toDF("doc_id", "text"), id, s"$state/idx", s"$state/out",
          "doc_id", "text"),
        state => s"$state/idx/docs",
        state => IngestDedup.corpus(spark, s"$state/idx", s"$state/out")
          .select("doc_id").collect().map(_.getLong(0)).toSet))
    val states = gates.map { case (name, apply, docsDir, accepted) =>
      val state = java.nio.file.Files
        .createTempDirectory(s"graft_compcrash_$name").toString
      apply(state, Seq((1L, A)), 0L)
      val fs = new org.apache.hadoop.fs.Path(state)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.rename(new org.apache.hadoop.fs.Path(s"${docsDir(state)}/batch=0"),
        new org.apache.hadoop.fs.Path(s"${docsDir(state)}/batch=-1"))
      apply(state, Seq((2L, A), (3L, fresh)), 1L)
      // the folded index still gates: the dup of doc 1 is not accepted
      assert(accepted(state) === Set(1L, 3L), name)
      name -> state
    }.toMap
    assert(SimilarityIngest.quarantined(spark, states("similarity"))
      .select("doc_id", "reason").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set(2L -> "near_dup"))
  }

  test("ingest gates share one batch-id contract: -1 and regressed ids " +
      "refused, committed replays and empty batches write nothing") {
    import graft.streaming.{EmbeddingIngest, IngestDedup, SimilarityIngest}
    def texts(ids: Seq[Long]) = ids.map(i => (i,
      s"doc $i alpha bravo charlie delta echo foxtrot golf hotel $i"))
      .toDF("doc_id", "text")
    def vecs(ids: Seq[Long]) = ids.map(i => (i,
      Seq.tabulate(8)(d => if (d == i % 8) 1f else 0f)))
      .toDF("vec_id", "embedding")
    // (gate, apply(state, id, ids), ledger dir of a state)
    val gates = Seq[(String, (String, Long, Seq[Long]) => Unit,
        String => String)](
      ("similarity", (state, id, ids) => SimilarityIngest.applyBatch(spark,
        state, texts(ids), id, "doc_id", "text"), identity),
      ("embedding", (state, id, ids) => EmbeddingIngest.applyBatch(spark,
        state, vecs(ids), id, "vec_id", "embedding"), identity),
      ("dedup", (state, id, ids) => IngestDedup.applyBatch(spark,
        texts(ids), id, s"$state/idx", s"$state/out", "doc_id", "text"),
        state => s"$state/idx"))
    import scala.jdk.CollectionConverters._
    def files(root: String): Map[String, (Long, Long)] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Path.of(root))
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => f.toString -> (java.nio.file.Files.size(f),
          java.nio.file.Files.getLastModifiedTime(f).toMillis)).toMap
      finally walk.close()
    }
    gates.foreach { case (name, apply, ledgerOf) =>
      val state = java.nio.file.Files
        .createTempDirectory(s"graft_idcontract_$name").toString
      val ledger = ledgerOf(state)
      def last = graft.streaming.BatchLedger.last(spark, ledger)
      apply(state, 0L, Seq(1L, 2L))
      assert(last === 0L, name)
      // an empty batch stamps nothing and writes no batch dir
      apply(state, 1L, Nil)
      assert(last === 0L, name)
      assert(!files(state).keys.exists(_.contains("batch=1")), name)
      apply(state, 2L, Seq(3L, 4L))
      assert(last === 2L, name)
      // a replay of the committed id writes no file
      val before = files(state)
      apply(state, 2L, Seq(5L, 6L))
      assert(files(state) === before, name)
      // an id below the ledger is refused, naming the state dir
      val regressed = intercept[IllegalArgumentException] {
        apply(state, 1L, Seq(7L))
      }
      assert(regressed.getMessage.contains(
        "regressed below the committed ledger"), name)
      assert(regressed.getMessage.contains(ledger), name)
      // -1 is the base segment and the empty-ledger sentinel
      val negative = intercept[IllegalArgumentException] {
        apply(state, -1L, Seq(8L))
      }
      assert(negative.getMessage.contains("must be >= 0"), name)
      assert(last === 2L, name)
    }
  }

  test("similarity ingest: stitching and its sources in ONE batch — stitching quarantines") {
    import graft.streaming.SimilarityIngest
    val p = SimilarityIngest.Params(windowK = 4, maxDupWindowRatio = 0.5)
    val A = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"
    val B = "mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray"
    val C = "one two three four five six seven eight nine ten eleven twelve"
    // stitched = first half of A + first half of B: MinHash-near-dup of
    // neither source, but 6 of its 9 4-token windows are owned by the
    // smaller-id sources — the pre-r9 one-batch blind spot
    val stitched = (A.split(" ").take(6) ++ B.split(" ").take(6))
      .mkString(" ")

    // BOOTSTRAP batch: sources + stitching arrive together
    val state = java.nio.file.Files
      .createTempDirectory("graft_intrasat_b0").toString
    SimilarityIngest.applyBatch(spark, state,
      Seq((1L, A), (2L, B), (5L, stitched)).toDF("doc_id", "text"), 0L,
      "doc_id", "text", p)
    assert(SimilarityIngest.accepted(spark, state)
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(SimilarityIngest.quarantined(spark, state)
      .select("doc_id", "reason").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set(5L -> "substring_dup"))
    // the min-id convention is order-principled: a stitching with a
    // SMALLER id than its sources is "already corpus" — the sources
    // (each half fully covered by it) quarantine instead
    val state2 = java.nio.file.Files
      .createTempDirectory("graft_intrasat_rev").toString
    SimilarityIngest.applyBatch(spark, state2,
      Seq((1L, stitched), (2L, A.split(" ").take(6).mkString(" ")),
        (3L, B.split(" ").take(6).mkString(" ")))
        .toDF("doc_id", "text"), 0L, "doc_id", "text", p)
    assert(SimilarityIngest.accepted(spark, state2)
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L))

    // STEADY batch: corpus established, then sources + stitching share a
    // later batch — and SPLIT coverage sums: a doc half-covered by the
    // corpus and half by a smaller-id batch sibling crosses the ratio
    // even though neither source alone would
    val state3 = java.nio.file.Files
      .createTempDirectory("graft_intrasat_steady").toString
    SimilarityIngest.applyBatch(spark, state3,
      Seq((1L, C)).toDF("doc_id", "text"), 0L, "doc_id", "text", p)
    SimilarityIngest.applyBatch(spark, state3,
      Seq((10L, A), (11L, B), (12L, stitched)).toDF("doc_id", "text"), 1L,
      "doc_id", "text", p)
    assert(SimilarityIngest.accepted(spark, state3)
      .select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(1L, 10L, 11L))
    assert(SimilarityIngest.quarantined(spark, state3)
      .select("doc_id", "reason").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set(12L -> "substring_dup"))
    // split coverage: half of A (already corpus) + half of fresh doc D
    // arriving with D in one batch — corpus covers 3 windows, D covers
    // 3, each alone is 3/9 < 0.5, together 6/9 >= 0.5
    val D = "red orange yellow green blue indigo violet cyan magenta teal maroon navy"
    val stitchAD = (A.split(" ").take(6) ++ D.split(" ").take(6))
      .mkString(" ")
    SimilarityIngest.applyBatch(spark, state3,
      Seq((20L, D), (21L, stitchAD)).toDF("doc_id", "text"), 2L,
      "doc_id", "text", p)
    assert(SimilarityIngest.quarantined(spark, state3)
      .filter(col("doc_id") === 21L).select("reason")
      .collect().map(_.getString(0)).toSet === Set("substring_dup"))
    assert(SimilarityIngest.accepted(spark, state3)
      .select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(1L, 10L, 11L, 20L))
    // INTERNAL repetition is not intra-batch coverage: a fresh doc whose
    // windows repeat within ITSELF owns them all (min-id owner = self),
    // so it must be accepted, alone or alongside strangers
    val selfRep = "ping pong ping pong ping pong ping pong ping pong"
    SimilarityIngest.applyBatch(spark, state3,
      Seq((30L, selfRep)).toDF("doc_id", "text"), 3L, "doc_id", "text", p)
    assert(SimilarityIngest.accepted(spark, state3)
      .filter(col("doc_id") === 30L).count() === 1L,
      "self-repetitive doc must not self-quarantine")
  }

  test("similarity ingest: a windowK restart mismatch fails loudly") {
    import graft.streaming.SimilarityIngest
    val A = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    val state = java.nio.file.Files
      .createTempDirectory("graft_kdrift").toString
    SimilarityIngest.applyBatch(spark, state,
      Seq((1L, A)).toDF("doc_id", "text"), 0L, "doc_id", "text",
      SimilarityIngest.Params(windowK = 4))
    // restarting the stream with a different windowK would probe 8-grams
    // against the 4-gram index and find zero hits silently — the window
    // index's _params stamp must refuse it
    val e = intercept[IllegalArgumentException] {
      SimilarityIngest.applyBatch(spark, state,
        Seq((2L, A)).toDF("doc_id", "text"), 1L, "doc_id", "text",
        SimilarityIngest.Params(windowK = 8))
    }
    assert(e.getMessage.contains("windowK"))
    // the original parameters still work
    SimilarityIngest.applyBatch(spark, state,
      Seq((2L, A)).toDF("doc_id", "text"), 1L, "doc_id", "text",
      SimilarityIngest.Params(windowK = 4))
    assert(SimilarityIngest.lastBatchId(spark, state) === 1L)
  }

  test("ingest dedup corpus() before first commit throws the documented error") {
    import graft.streaming.IngestDedup
    val dir = java.nio.file.Files
      .createTempDirectory("graft_precommit").toString
    val e = intercept[IllegalStateException] {
      IngestDedup.corpus(spark, s"$dir/index", s"$dir/out")
    }
    assert(e.getMessage.contains("no accepted corpus"))
  }

  test("nio local filesystem keeps setuid, setgid and sticky bits") {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.fs.permission.FsPermission
    val fs = new graft.io.NioRawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"),
      new org.apache.hadoop.conf.Configuration())
    val f = java.nio.file.Files.createTempFile("graft_nio_mode", ".bin")
    try {
      def modeAfter(perm: FsPermission): Int = {
        fs.setPermission(new Path(f.toUri), perm)
        java.nio.file.Files.getAttribute(f, "unix:mode")
          .asInstanceOf[Int] & 0xFFF
      }
      def octal(m: String): Short = Integer.parseInt(m, 8).toShort
      // FsPermission.fromShort keeps only the sticky bit of the three, so
      // setuid and setgid ride a toShort override, the way extended
      // permission subclasses carry bits the base class does not model
      Seq("4755", "2755").foreach { m =>
        val extended = new FsPermission(octal("755")) {
          override def toShort: Short = octal(m)
        }
        assert(modeAfter(extended) === octal(m).toInt, m)
      }
      assert(modeAfter(new FsPermission(octal("1755"))) === octal("1755"))
      // the plain bits still take the nio path and clear the extras
      assert(modeAfter(new FsPermission(octal("640"))) === octal("640"))
    } finally java.nio.file.Files.deleteIfExists(f)
  }
}
