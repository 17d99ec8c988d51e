package graft

import graft.ops.SkewJoin
import org.apache.spark.sql.functions._

/** Tests for the scale utilities: salted skew join and bucketed co-located
  * joins (the pre-partitioning strategy for repeated big-big joins). */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("salted join equals plain join and spreads the hot key") {
    // heavy skew: 5000 of 5020 rows share key 1
    val fact = ((1 to 5000).map(i => (1L, s"v$i")) ++
      (1 to 20).map(i => (i.toLong + 1, s"w$i"))).toDF("k", "payload")
    val dim = (1 to 30).map(i => (i.toLong, s"dim$i")).toDF("dk", "attr")
    val plain = fact.join(dim, col("k") === col("dk"))
      .select("k", "payload", "attr").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val salted = SkewJoin.saltedInnerJoin(fact, dim, "k", "dk", salts = 8)
      .select("k", "payload", "attr").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(salted === plain)
    assert(plain.size === 5020)
  }

  test("salted LEFT join equals plain left join, incl. null-padded and " +
      "null-key rows") {
    // hot key 1 (5000 rows), 20 cold keys of which half have NO dim
    // partner (must null-pad), plus 5 null-key rows (must null-pad —
    // null never equals)
    val fact = ((1 to 5000).map(i => (Option(1L), s"v$i")) ++
      (1 to 20).map(i => (Option(i + 1L), s"w$i")) ++
      (1 to 5).map(i => (Option.empty[Long], s"n$i")))
      .toDF("k", "payload")
    val dim = (1 to 11).map(i => (i.toLong, s"dim$i")).toDF("dk", "attr")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "payload", "attr").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) "<null>" else r.getString(2)))
      .groupBy(identity).view.mapValues(_.length).toMap
    val plain = rows(fact.join(dim, col("k") === col("dk"), "left"))
    val salted = rows(SkewJoin.saltedLeftJoin(fact, dim, "k", "dk",
      salts = 8))
    assert(salted === plain)
    // padded rows really exist: keys 12..21 and the null keys
    assert(plain.count { case ((_, _, a), _) => a == "<null>" } === 15)
    assert(plain.values.sum === 5025)
  }

  test("window-index probes are size-gated: broadcast-semi under the " +
      "explicit byte threshold, inner+distinct (no LeftSemi) past it " +
      "(r14/r15)") {
    // Spark can only BUILD the right side of a semi/anti hash join; with
    // the corpus index on the right, the pre-r14 probe shape degraded
    // past the broadcast threshold to a sort-merge join shuffling the
    // whole index per probe. r14 rewrote the probe as inner join +
    // batch-sized distinct (semi SEMANTICS, index stays a scan); r15
    // restored the semi shape for indexes PROVABLY under an explicit
    // size gate (SemiIndexBytesKey, never AQE), where the force-broadcast
    // semi skips the distinct shuffle outright. This pin holds BOTH
    // arms, which a correctness suite can never catch (the results are
    // identical; only the 100 TB plan differs).
    // plan-pin through the LAZY gate building block (FromWins): the
    // path-level public APIs localCheckpoint their result, so their
    // optimizedPlan is a LogicalRDD that shows NO joins at all — the
    // r14 pin asserted absence against that truncated plan, i.e. it was
    // inert. The stats path also always carries a LEGITIMATE semi (the
    // batch-sized hit join on doc_id/pos), so the pin matches the join
    // LINE on the `whash` key specifically.
    val docs = Util.table(spark, "/root/testdata/sf0.001", "documents")
      .limit(50)
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_probe_pin").toString
    graft.llm.SubstringDedup.writeWindowIndex(docs, "doc_id", "text", 8,
      idxDir)
    val wins = graft.llm.SubstringDedup.hashedWindows(
      docs, "doc_id", "text", 8)
    def run() = graft.llm.SubstringDedup.duplicatedWindowStatsFromWins(
      docs.select(col("doc_id")), wins,
      spark.read.parquet(idxDir))
    def whashSemi(plan: String): Boolean = plan.linesIterator.exists(l =>
      l.contains("LeftSemi") && l.contains("whash"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // SMALL arm: a KB-scale index sits under the default 8 MB gate →
    // the probe is a semi join on whash with the index FORCE-broadcast
    // (the gate proved it fits), whatever the session threshold says
    val small = run()
    assert(whashSemi(small.queryExecution.optimizedPlan.toString),
      s"small index must take the semi arm:\n" +
        small.queryExecution.optimizedPlan.toString.take(2000))
    assert(small.queryExecution.executedPlan.toString.linesIterator.exists(
        l => l.contains("BroadcastHashJoin") && l.contains("whash") &&
          l.contains("LeftSemi")),
      "the semi arm must force-broadcast the gated index")
    val smallRows = rows(small)
    // LARGE arm (threshold forced to 0 = every index is "too big"):
    // inner + batch-sized distinct, the index side a pure scan — a semi
    // would put the corpus on the only side Spark can build
    spark.conf.set(graft.llm.SubstringDedup.SemiIndexBytesKey, "0")
    try {
      val big = run()
      val bigOpt = big.queryExecution.optimizedPlan.toString
      assert(!whashSemi(bigOpt),
        s"past the size gate the probe must never put the corpus on a " +
          s"semi build side:\n${bigOpt.take(2000)}")
      assert(rows(big) === smallRows,
        "the two probe arms must be result-identical")
    } finally spark.conf.unset(graft.llm.SubstringDedup.SemiIndexBytesKey)
    assert(smallRows.size === 50)
  }

  test("window-index probe shuffle rows stay FLAT as the index grows " +
      "(ScaleProbe14's invariant as a standing drift pin, r15)") {
    // the r14 scale find, pinned the q_dedup_dense_probe way: a fixed
    // batch probed against a x1 and a x4 window index must shuffle the
    // SAME rows (the inner+distinct arm ships batch-sized sets only; the
    // index is a pure scan). A revert to the semi shape — or any plan
    // that lets the index cross the wire — shows up as growth here, a
    // test failure instead of a re-measurement. The semi replica at both
    // scales self-validates the instrument: ITS rows must grow.
    val root = java.nio.file.Files
      .createTempDirectory("graft_flat_probe").toString
    def word(i: org.apache.spark.sql.Column) = {
      val u = conv(substring(md5(concat(col("doc_id"), lit("_"), i)),
        1, 8), 16, 10).cast("double") / lit(4294967296.0)
      concat(lit("w"), floor(exp(u * lit(math.log(8000.0)))).cast("long"))
    }
    def docsRange(lo: Long, hi: Long) = {
      val nWords = (lit(10) + pmod(
        conv(substring(md5(concat(lit("len"), col("id"))), 1, 8), 16, 10)
          .cast("long"), lit(91))).cast("int")
      spark.range(lo, hi)
        .select(col("id").as("doc_id"), nWords.as("n_words"))
        .select(col("doc_id"),
          concat_ws(" ",
            transform(sequence(lit(1), col("n_words")), i => word(i)))
            .as("text"))
    }
    val k = 8
    val batch = docsRange(10000L, 10400L)
    Seq(1, 4).foreach { x =>
      graft.llm.SubstringDedup.writeWindowIndex(
        docsRange(0L, x * 1500L), "doc_id", "text", k, s"$root/windex_x$x")
    }
    val collector = new Bench.ShuffleByteCollector
    spark.sparkContext.addSparkListener(collector)
    def measuredRows(mk: => org.apache.spark.sql.DataFrame): Long = {
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      collector.reset()
      mk.write.format("noop").mode("overwrite").save()
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      collector.totals._2
    }
    // the gates' regime: AQE off (static planner choice is the one that
    // runs), inner arm forced (size gate shut), broadcast threshold
    // pinned between the batch's windows and the x1 index — the 100 TB
    // decision in miniature: the batch always fits the build side, the
    // index never does
    spark.conf.set(graft.llm.SubstringDedup.SemiIndexBytesKey, "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
      (256L << 10).toString)
    try {
      graft.Util.withMicroBatchPlanning(Seq(spark)) {
        def innerRows(x: Int): Long = measuredRows(
          graft.llm.SubstringDedup.dedupSubstringsVsIndex(
            batch, "doc_id", "text", k, s"$root/windex_x$x"))
        def semiRows(x: Int): Long = measuredRows {
          val wins = graft.llm.SubstringDedup.hashedWindows(
            batch, "doc_id", "text", k)
          val idxDf = spark.read.parquet(s"$root/windex_x$x")
            .select(col("whash"))
          wins.join(idxDf, Seq("whash"), "left_semi")
            .select(col("doc_id"), col("pos"))
            .unionByName(wins.join(idxDf, Seq("whash"), "left_anti")
              .select(col("doc_id"), col("pos")))
        }
        val (i1, i4) = (innerRows(1), innerRows(4))
        assert(i1 > 0L, "instrument must see the probe's shuffles")
        assert(i1 === i4,
          s"probe shuffle rows grew with corpus scale: x1=$i1 x4=$i4 — " +
            "the index is crossing the wire per probe again")
        val (s1, s4) = (semiRows(1), semiRows(4))
        assert(s4 > s1 && s4 > i4,
          s"self-check: the semi replica must degrade with index scale " +
            s"(semi x1=$s1 x4=$s4 vs inner $i4) — if it does not, this " +
            "pin is measuring nothing")
      }
    } finally {
      spark.conf.unset(graft.llm.SubstringDedup.SemiIndexBytesKey)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sparkContext.removeSparkListener(collector)
    }
  }

  test("Util.batchSide forces a shuffle-hash join (no broadcast job) " +
      "(r14)") {
    // the gates' batch-vs-batch joins hint shuffle_hash so each
    // materialized plan stops paying one Spark job per broadcast
    // exchange; this pin fails if the hint stops reaching the planner
    val a = spark.range(1000).select(col("id"), (col("id") % 7).as("v"))
    val b = spark.range(100).select(col("id"))
    val hinted = a.join(Util.batchSide(b), Seq("id"), "left_semi")
    hinted.collect()
    val plan = hinted.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"batchSide hint must plan SHJ:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"batchSide hint must suppress the broadcast:\n$plan")
  }

  // Steady-state job budgets of the three exactly-once ingest gates, one
  // test each. The budgets are the measured steady-state job counts at
  // sf0.001 (IngestDedup: profiled 10 + headroom 2). Each pin is the
  // behavioral form of the batchSide plan assert: a broadcast regression
  // on any batch-vs-batch join, a return to footer schema inference on a
  // stored index, or a job added to the shared commit loop adds one Spark
  // job per occurrence per micro-batch and trips the budget — at 10k
  // batches/day those jobs are pure driver pressure.
  private def thirdOf(table: String, idCol: String, cols: String*)(
      b: Long): org.apache.spark.sql.DataFrame =
    Util.table(spark, "/root/testdata/sf0.001", table)
      .select((idCol +: cols).map(col): _*)
      .filter(pmod(col(idCol), lit(3)) === b)

  Seq[(String, Int, String => Long => Unit)](
    ("IngestDedup steady-state micro-batch stays within its job budget " +
        "(r15, VERDICT #1)", 12, dir => b =>
      graft.streaming.IngestDedup.applyBatch(spark,
        thirdOf("documents", "doc_id", "text")(b), b, s"$dir/idx",
        s"$dir/out", "doc_id", "text")),
    ("SimilarityIngest steady-state micro-batch stays within its job " +
        "budget", 13, dir => b =>
      graft.streaming.SimilarityIngest.applyBatch(spark, dir,
        thirdOf("documents", "doc_id", "text")(b), b, "doc_id", "text")),
    ("EmbeddingIngest steady-state micro-batch stays within its job " +
        "budget", 9, dir => b =>
      graft.streaming.EmbeddingIngest.applyBatch(spark, dir,
        thirdOf("embeddings", "vec_id", "embedding")(b), b, "vec_id",
        "embedding"))
  ).foreach { case (name, budget, gate) =>
    test(name) {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_gate_budget").toString
      gate(dir)(0L)
      gate(dir)(1L)
      // count ONLY this gate call's jobs, keyed by job group: the spec
      // session is shared across suites, and an unrelated suite's async
      // work (a still-draining stream tick, a late listener event) landing
      // inside the measurement window must not fail the pin. The group
      // propagates to the gate's concurrent-write threads (created inside
      // the call) and to broadcast-exchange submissions (thread-locals are
      // captured by SQLExecution), so the gate's own jobs all carry it.
      val group = "graft_gate_budget_pin"
      val sites = java.util.Collections.synchronizedList(
        new java.util.ArrayList[String]())
      val jl = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val p = Option(e.properties)
          if (p.exists(_.getProperty("spark.jobGroup.id") == group))
            sites.add(p.flatMap(q => Option(q.getProperty("callSite.short")))
              .getOrElse(e.stageInfos.headOption.map(_.name).getOrElse("?")))
          ()
        }
      }
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      spark.sparkContext.addSparkListener(jl)
      try {
        spark.sparkContext.setJobGroup(group, "gate job-budget pin")
        gate(dir)(2L)
        org.apache.spark.graft.ListenerBridge
          .waitUntilEmpty(spark.sparkContext)
        val n = sites.size()
        info(s"steady-state batch ran $n jobs (budget $budget)")
        assert(n <= budget,
          s"steady-state batch ran $n jobs (budget $budget): a batch join " +
            "regressed to broadcast, an index read regressed to schema " +
            "inference, or the commit loop gained a job. " +
            s"Job sites: ${java.util.List.copyOf(sites)}")
        assert(n >= 5, s"only $n jobs carried the test's job group — the " +
          "group is no longer propagating to the gate's jobs, so this pin " +
          "is measuring nothing")
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.removeSparkListener(jl)
      }
    }
  }

  test("partitioned parquet sink prunes partitions on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val docs = Util.table(spark, "/root/testdata/sf0.001", "documents")
    io.Parquet.writePartitioned(docs, dir, Seq("source"))
    val one = io.Parquet.read(spark, dir).filter(col("source") === "src3")
    one.collect()
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.contains("src3"), s"expected partition pruning:\n$scan")
    // pruned read returns exactly the partition's rows
    assert(one.count() === docs.filter(col("source") === "src3").count())
  }

  test("parquet scans prune columns and push down filters") {
    val li = Util.table(spark, "/root/testdata/sf0.001", "lineitem")
    val q = li.filter(col("l_quantity") > 30)
      .select(col("l_orderkey"), col("l_quantity"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), " +
      "GreaterThan(l_quantity,30.0)]"), s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint," +
      "l_quantity:double>"), s"columns not pruned:\n$plan")
  }

  test("ORC round-trip is exact and pushes down filters") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val li = Util.table(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    graft.io.Orc.write(li, s"$dir/li")
    val back = graft.io.Orc.read(spark, s"$dir/li")
    assert(back.count() === li.count())
    // exact content: anti joins empty both ways
    assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty)
    val q = back.filter(col("l_quantity") > 30)
      .select(col("l_orderkey"), col("l_quantity"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), " +
      "GreaterThan(l_quantity,30.0)]"), s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint," +
      "l_quantity:double>"), s"columns not pruned:\n$plan")
    // hive-partitioned variant prunes directories on the partition key
    graft.io.Orc.writePartitioned(li, s"$dir/lip", Seq("l_returnflag"))
    val part = graft.io.Orc.read(spark, s"$dir/lip")
      .filter(col("l_returnflag") === "R")
    part.collect()
    val pplan = part.queryExecution.executedPlan.toString
    assert(pplan.contains("PartitionFilters: [isnotnull(l_returnflag"),
      s"partition not pruned:\n$pplan")
    scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("min/max manifest skips files and preserves range-query results") {
    val dir = java.nio.file.Files.createTempDirectory("graft_man").toString
    val li = Util.table(spark, "/root/testdata/sf0.001", "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity")
    // cluster by the skip column: repartitionByRange gives each file a
    // disjoint l_orderkey interval — the layout manifests exploit
    li.repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.parquet(s"$dir/li")
    val manifest = graft.io.Manifest.build(spark, s"$dir/li",
      Seq("l_orderkey"))
    assert(manifest.count() === 8L)
    val (lo, hi) = (lit(100L), lit(500L))
    val files = graft.io.Manifest
      .candidateFiles(manifest, "l_orderkey", lo, hi)
    assert(files.nonEmpty && files.size < 8,
      s"range-clustered layout must skip files (kept ${files.size}/8)")
    val pruned = graft.io.Manifest
      .readRange(spark, s"$dir/li", manifest, "l_orderkey", lo, hi)
    val full = spark.read.parquet(s"$dir/li")
      .filter(col("l_orderkey") >= 100L && col("l_orderkey") <= 500L)
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    // the bounded-batch path (million-file manifests: paths stream
    // through the driver maxPathsPerBatch at a time) returns the same
    // rows even when the candidate set spans several batches
    val batched = graft.io.Manifest.readRange(spark, s"$dir/li", manifest,
      "l_orderkey", lo, hi, maxPathsPerBatch = 1)
    assert(batched.exceptAll(full).isEmpty && full.exceptAll(batched).isEmpty)
    // disjoint range → zero candidates, zero files opened, empty result
    val none = graft.io.Manifest.readRange(spark, s"$dir/li", manifest,
      "l_orderkey", lit(-100L), lit(-1L))
    assert(none.count() === 0L)
    scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("z-order layout lets the manifest skip files on BOTH dimensions") {
    import graft.io.{Layout, Manifest}
    val dir = java.nio.file.Files.createTempDirectory("graft_z").toString
    val rnd = new scala.util.Random(5)
    val df = (1 to 20000)
      .map(_ => (rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong))
      .toDF("a", "b")
    // linear layout: great for a, useless for b
    df.repartitionByRange(16, col("a")).sortWithinPartitions("a")
      .write.parquet(s"$dir/linear")
    Layout.writeZOrdered(df, s"$dir/z", "a", "b", 16)
    def kept(path: String, c: String): Int =
      Manifest.candidateFiles(
        Manifest.build(spark, path, Seq("a", "b")),
        c, lit(1000L), lit(5000L)).size
    // z-values interleave both keys, so a narrow range on EITHER column
    // overlaps only a fraction of the 16 file rectangles
    assert(kept(s"$dir/z", "a") < 16 && kept(s"$dir/z", "b") < 16,
      s"z layout must skip on both dims " +
        s"(a=${kept(s"$dir/z", "a")}, b=${kept(s"$dir/z", "b")})")
    // the linear layout cannot skip on its non-leading column
    assert(kept(s"$dir/linear", "b") === 16)
    assert(kept(s"$dir/linear", "a") < kept(s"$dir/z", "a"),
      "linear stays sharper on its own leading column")
    // layout never changes data
    assert(spark.read.parquet(s"$dir/z").exceptAll(df).isEmpty &&
      df.exceptAll(spark.read.parquet(s"$dir/z")).isEmpty)
    scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("versioned store: immutable snapshots, latest pointer, vacuum") {
    import graft.io.Versioned
    val root = java.nio.file.Files.createTempDirectory("graft_ver").toString
    def snap(n: Int) = spark.range(n).toDF("id")
    assert(Versioned.write(snap(10), root) === 0L)
    assert(Versioned.write(snap(20), root) === 1L)
    assert(Versioned.write(snap(30), root) === 2L)
    assert(Versioned.versions(spark, root) === Seq(0L, 1L, 2L))
    assert(Versioned.readLatest(spark, root).count() === 30L)
    // time travel: old snapshots stay exactly as written
    assert(Versioned.readVersion(spark, root, 0L).count() === 10L)
    assert(Versioned.readVersion(spark, root, 1L).count() === 20L)
    // vacuum keeps the newest two, never the pointed-to version
    assert(Versioned.vacuum(spark, root, keep = 2) === Seq(0L))
    assert(Versioned.versions(spark, root) === Seq(1L, 2L))
    assert(Versioned.readLatest(spark, root).count() === 30L)
    // a crash between write and pointer swap leaves v=3 COMMITTED
    // (_SUCCESS present) but unnamed by the stale pointer. versions()
    // exposes it, so a reader may pin it — the next write must allocate
    // PAST it, never reuse the slot under that reader
    snap(40).write.mode("overwrite").parquet(s"$root/v=00003")
    assert(Versioned.latestVersion(spark, root) === Some(2L),
      "pointer wins while it exists")
    assert(Versioned.versions(spark, root).contains(3L),
      "committed orphan is visible (pinnable)")
    assert(Versioned.write(snap(50), root) === 4L,
      "next write allocates past the committed orphan")
    assert(Versioned.readVersion(spark, root, 3L).count() === 40L,
      "pinned orphan snapshot untouched")
    assert(Versioned.readLatest(spark, root).count() === 50L)
    // an UNCOMMITTED leftover (no _SUCCESS: a write that died mid-flight)
    // stays invisible and its slot IS reused
    snap(60).write.mode("overwrite").parquet(s"$root/v=00005")
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(s"$root/v=00005/_SUCCESS"), false)
    assert(!Versioned.versions(spark, root).contains(5L))
    assert(Versioned.write(snap(70), root) === 5L,
      "uncommitted slot safely overwritten")
    scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
  }

  test("bucketed tables join without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS graft_bucketed_cust")
    spark.sql("DROP TABLE IF EXISTS graft_bucketed_ord")
    // a fresh JVM's catalog does not know tables left by a previous run,
    // so DROP is a no-op while the location still exists — clear it
    val wh = java.net.URI.create(
      spark.conf.get("spark.sql.warehouse.dir")).getPath
    Seq("graft_bucketed_cust", "graft_bucketed_ord").foreach { t =>
      val dir = new java.io.File(wh, t)
      if (dir.exists())
        scala.reflect.io.Directory(dir).deleteRecursively()
    }
    Util.table(spark, "/root/testdata/sf0.001", "customer")
      .write.bucketBy(4, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("graft_bucketed_cust")
    Util.table(spark, "/root/testdata/sf0.001", "orders")
      .write.bucketBy(4, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("graft_bucketed_ord")
    val joined = spark.table("graft_bucketed_cust")
      .join(spark.table("graft_bucketed_ord"),
        col("c_custkey") === col("o_custkey"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    // co-located bucketing: the join itself requires no shuffle
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    info("bucketed join plan is exchange-free on the join keys")
  }

  test("AQE splits the hot-gram skew in the substring stats join-back") {
    // SubstringDedup claims its wins ⋈ counts join-back is
    // AQE-skew-splittable (a corpus-wide boilerplate gram lands every
    // occurrence in one join partition) — pin it. An isolated session
    // (own SQLConf, shared context) forces the shuffled-join regime the
    // claim is about: broadcast off, skew thresholds sized to the test.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // thresholds sized to a test corpus: shuffle partition sizes are
    // COMPRESSED bytes, and a million copies of one gram compress hard,
    // so production defaults (256MB) would never register here. NOT
    // forced — the split must clear AQE's own skew test.
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    s2.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    // ONE exactly-k-token boilerplate text at ~99% corpus frequency:
    // every hot document contributes the SAME single gram, so the whole
    // hot mass hashes to one join partition. (A longer boilerplate would
    // smear its sliding windows — distinct grams — across partitions,
    // so the skew must be concentrated on one key to register.)
    val docs = s2.range(0, 1010000).select(col("id").as("doc_id"),
      when(col("id") < 1000000, lit("all rights reserved today"))
        .otherwise(concat_ws(" ", lit("document"), col("id"),
          concat(lit("alpha"), col("id")), concat(lit("beta"), col("id")),
          concat(lit("gamma"), col("id")), concat(lit("delta"), col("id"))))
        .as("text"))
    // the operator materializes internally (finishAndRelease), so the
    // returned frame is a checkpoint scan — observe the INTERNAL
    // execution via a listener and look for the skew rewrite there
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ex: Exception): Unit = ()
    }
    s2.listenerManager.register(listener)
    try {
      val out = graft.llm.SubstringDedup.duplicatedWindowStats(
        docs, "doc_id", "text", k = 4)
      assert(out.count() === 1010000)
      // listener callbacks are delivered asynchronously
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      import scala.jdk.CollectionConverters._
      while (!plans.asScala.exists(_.contains("skew=true")) &&
        System.nanoTime() < deadline) Thread.sleep(100)
      assert(plans.asScala.exists(_.contains("skew=true")),
        s"expected the AQE skew-join rewrite to fire; saw " +
          s"${plans.size} executions:\n${plans.asScala.mkString("\n---\n")}")
    } finally s2.listenerManager.unregister(listener)
  }

  test("connected components survive on reliable checkpoints (shared storage)") {
    import graft.llm.Dedup
    // a 30-node path graph needs several pointer-jumping rounds to collapse
    // — enough to exercise the per-round parquet write/read/delete cycle
    val pairs = (0L until 29L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_rel").toString
    val comps = Dedup.connectedComponents(pairs, localEdgeThreshold = 0L,
        reliableDir = Some(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comps === (0L until 30L).map(_ -> 0L).toMap,
      "every node labels to the minimum id 0")
    // the reliable path actually ran: round files exist on shared storage,
    // at least 3 propagation rounds happened, and only the final round's
    // files remain (earlier rounds were cleaned as the loop advanced)
    val runDirs = new java.io.File(dir).listFiles.filter(_.isDirectory)
    assert(runDirs.length === 1, "one cc run directory")
    val rounds = runDirs.head.listFiles.filter(_.isDirectory).map(_.getName)
    assert(rounds.length === 1,
      s"only the final round's files remain, got ${rounds.toSeq}")
    val finalRound = rounds.head.stripPrefix("round-").toInt
    assert(finalRound >= 3, s"expected >= 3 propagation rounds, " +
      s"final checkpoint was $finalRound")
    // reliable and local-checkpoint paths agree exactly
    val local = Dedup.connectedComponents(pairs, localEdgeThreshold = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(local === comps)
    scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("connected components agree across the broadcast/shuffle boundary") {
    import graft.llm.Dedup
    // a graph that stresses both regimes' join shapes: long chains (several
    // pointer-jump rounds), a star (min-label through a hub), and a
    // reversed chain (labels propagate against edge direction), plus
    // singletons via self-free pair ids
    val chains = (0L until 40L).filterNot(i => i % 10 == 9)
      .map(i => (i + 1, i)) // reversed: dst < src
    val star = (100L until 120L).map(i => (i, 100L))
    val pairs = (chains ++ star).toDF("id_a", "id_b")
    def run(bcastThreshold: Long) =
      Dedup.connectedComponents(pairs, localEdgeThreshold = 0L,
          broadcastNodeThreshold = bcastThreshold)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // the same graph through the broadcast regime (threshold far above
    // the node count) and the shuffle regime (threshold 0 — what a
    // billion-node corpus would plan) must produce identical labels,
    // so the 2M-node regime switch cannot silently corrupt components
    val viaBroadcast = run(Long.MaxValue)
    val viaShuffle = run(0L)
    assert(viaBroadcast === viaShuffle)
    // and both agree with the driver union-find fast path
    val local = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(local === viaShuffle)
    val expected =
      ((0L until 40L).map(i => i -> (i / 10 * 10)) ++
        (100L until 120L).map(_ -> 100L)).toMap
    assert(viaBroadcast === expected)
  }

  test("schema evolution: mergeSchema unions columns across parquet batches") {
    // the ingest reality at scale: later batches grow columns; readers must
    // see the union schema with nulls for pre-evolution rows
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    Seq((1L, "a")).toDF("id", "v")
      .write.mode("append").parquet(dir)
    Seq((2L, "b", 7L)).toDF("id", "v", "extra")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq === Seq("extra", "id", "v"))
    val rows = merged.orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"),
        Option(r.getAs[java.lang.Long]("extra")).map(_.longValue)))
    assert(rows.toSeq === Seq((1L, "a", None), (2L, "b", Some(7L))))
  }

  test("parquet compaction merges small files, preserves data exactly") {
    import org.apache.spark.sql.functions.col
    val docs = Util.table(spark, "/root/testdata/sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    // simulate a micro-batch ingest: 40 tiny files
    docs.repartition(40).write.mode("overwrite").parquet(dir)
    def partFiles = new java.io.File(dir).listFiles
      .count(f => f.getName.startsWith("part-"))
    assert(partFiles === 40)
    val before = docs.orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    val nOut = graft.io.Parquet.compact(spark, dir,
      targetFileBytes = 64L * 1024 * 1024)
    assert(nOut === 1 && partFiles === 1, "tiny corpus compacts to one file")
    val after = spark.read.parquet(dir)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    assert(after === before, "compaction must not change the data")
    // crash repair: a compact that died between its two renames leaves
    // the dataset at .__graft_compact_old and NOTHING at the path; the
    // next compact must restore before listing, not FileNotFound
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".__graft_compact_old")))
    graft.io.Parquet.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    val repaired = spark.read.parquet(dir)
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    assert(repaired === before, "repair must restore then compact")
    // sizing counts ALL data files, not just part-*: externally-named
    // parquet must not collapse to repartition(1)'s single task
    val ext = java.nio.file.Files.createTempDirectory("graft_cext").toString
    docs.repartition(8).write.mode("overwrite").parquet(ext)
    val extFs = new java.io.File(ext)
    extFs.listFiles.filter(_.getName.startsWith("part-")).zipWithIndex
      .foreach { case (f, i) =>
        assert(f.renameTo(new java.io.File(extFs, f"data_$i%04d.parquet")))
      }
    val nExt = graft.io.Parquet.compact(spark, ext, targetFileBytes = 4096)
    assert(nExt > 1, s"external file names must still size the output " +
      s"(got $nExt files)")
  }

  test("compaction refuses hive-partitioned directories") {
    val docs = Util.table(spark, "/root/testdata/sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_cpart").toString
    graft.io.Parquet.writePartitioned(docs, dir, Seq("source"))
    val e = intercept[IllegalArgumentException] {
      graft.io.Parquet.compact(spark, dir)
    }
    assert(e.getMessage.contains("partition subdirectories"))
  }

  test("same-length 1M corpus: blocked kernel refuses, chunked stays linear") {
    import graft.ops.SimilarityJoin
    // THE adversarial length distribution for the banded kernel: every
    // string shares one length, so the length equi-join is a single hot
    // key carrying the full n^2 pair space — at cluster scale, one
    // straggler shuffle partition doing a trillion DP verifies.
    val n = 1000000L
    val d = 1
    val hist = Map(20 -> n)
    // candidate arithmetic (unit-level, the chooser's own inputs):
    // blocked = n^2; chunked = n rows x 1 in-band length x (d+1) chunk
    // indexes x (d+1) shift-pruned positions = 4n substrings — a 250000x
    // gap at this n, and it WIDENS linearly with n
    assert(SimilarityJoin.estimateBlockedPairs(hist, hist, d) ===
      BigInt(n) * BigInt(n))
    assert(SimilarityJoin.estimateChunkedSubstrings(hist, hist, d) ===
      BigInt(4L * n))
    assert(SimilarityJoin.chooseChunked(hist, hist, d),
      "the cost model must route a same-length corpus to the chunk filter")
    // end-to-end on REAL 1M same-length rows: 20-hex-char strings (md5
    // prefixes — uniformly random, so 10-char half-chunks collide only
    // for planted pairs), plus 100 planted distance-1 partners that
    // differ in the SECOND half (first-half chunk survives unedited)
    val base = spark.range(0, n).select(col("id").as("rid"),
      substring(md5(col("id").cast("string")), 1, 20).as("s"))
    val planted = base.filter(col("rid") < 100)
      .select((col("rid") + n).as("rid"),
        concat(substring(col("s"), 1, 19), lit("!")).as("s"))
    val corpus = base.unionByName(planted)
    // the guard refuses the blocked kernel on this histogram
    val e = intercept[IllegalArgumentException] {
      SimilarityJoin.requireBlockedTractable(corpus, corpus.select(
        col("rid").as("rid2"), col("s").as("s2")), "s", "s2", d)
    }
    assert(e.getMessage.contains("chunkedInnerJoin"))
    // chunked kernel end-to-end: every planted pair found, nothing else
    // (beyond self-matches), in near-linear work. dedupKeys dedups the
    // 100 planted (value,value) repeats cheaply — values are unique here.
    val out = SimilarityJoin.chunkedInnerJoin(
        corpus.select(col("rid").as("rid_a"), col("s").as("sa")),
        corpus.select(col("rid").as("rid_b"), col("s").as("sb")),
        "sa", "sb", d)
      .filter(col("rid_a") =!= col("rid_b"))
      .select(col("rid_a"), col("rid_b"), col("string_distance"))
    val got = out.collect()
    assert(got.length === 200, s"expected 100 planted pairs x 2 " +
      s"directions, got ${got.length}")
    assert(got.forall(_.getInt(2) === 1))
    val pairs = got.map(r => (math.min(r.getLong(0), r.getLong(1)),
      math.max(r.getLong(0), r.getLong(1)))).toSet
    assert(pairs === (0L until 100L).map(i => (i, i + n)).toSet)
  }

  test("distributed BPE: a 220k-word vocabulary runs the distributed loop, " +
      "per-round shuffle is pair-table-sized, results == local reference") {
    import graft.llm.BpeTrain
    // 220k distinct 4-letter words over a 26-char alphabet (one word per
    // doc) — above the 200k fastPathMaxWords, so merges() MUST take the
    // distributed per-round pair-aggregate loop
    val n = 220000L
    val word = (0 until 4).map(k =>
        expr(s"char(97 + CAST(id / ${math.pow(26, k).toLong} AS INT) % 26)"))
      .reduce(concat(_, _))
    val corpus = spark.range(n).select(word.as("text"))
    // shuffle bytes per round, via stage metrics (deterministic, unlike
    // wall clock): run at 1 and at 4 merge rounds — the increment is the
    // per-round cost, which must be PAIR-TABLE-sized (the ~26² symbol-
    // pair aggregate), not corpus- or vocabulary-sized
    val written = new java.util.concurrent.atomic.LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null) written.add(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def measured(nMerges: Int): (Seq[(Int, String, String, Long)], Long) = {
      spark.sparkContext.addSparkListener(listener)
      written.reset()
      try {
        val rules = BpeTrain.merges(corpus, "text", nMerges)
          .collect().map(r =>
            (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
          .toSeq
        // stage-completion events are delivered asynchronously: poll the
        // counter until it stops moving (a fixed sleep can under-read on
        // a loaded event bus — this box's documented noise regime)
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        var last = -1L
        var stable = 0
        while (stable < 3 && System.nanoTime() < deadline) {
          Thread.sleep(200)
          val now = written.sum()
          if (now == last) stable += 1 else { stable = 0; last = now }
        }
        (rules, written.sum())
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val t0 = System.nanoTime()
    val (rules4, bytes4) = measured(4)
    val wallSecs = (System.nanoTime() - t0) / 1e9
    val (rules1, bytes1) = measured(1)
    assert(rules4.size === 4 && rules1.size === 1)
    assert(rules4.head === rules1.head)
    // per-round increment: 3 extra rounds of (pair aggregate + winner
    // pick). The pair table is <= (26 + merges)² symbol pairs — KBs.
    // 2 MB for 3 rounds is two orders of magnitude of headroom while
    // still failing loudly if a round ever shuffles the word table.
    val perRound = (bytes4 - bytes1) / 3.0
    assert(perRound < 2.0 * 1024 * 1024,
      f"per-round shuffle $perRound%.0f bytes — a merge round must " +
        "shuffle the pair-frequency table, not the vocabulary")
    // wall sanity: 4 distributed rounds on local[4] (generous for the
    // box's documented 2-4x noise; a quadratic regression would blow it)
    assert(wallSecs < 180.0, f"4-round distributed BPE took $wallSecs%.1f s")
    // and the distributed path must equal the local reference loop
    // exactly (same counts, same UTF-8 tiebreaks) on the same table
    val wordTable = corpus
      .groupBy(col("text")).agg(count(lit(1)).as("freq"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rules4 === BpeTrain.mergesLocal(wordTable, 4))
  }

  test("bucketed summary commit shuffle rows stay FLAT as total key " +
      "cardinality grows; the plain mode must degrade (r16, VERDICT #4)") {
    // the O(delta + touched buckets) claim as a standing drift pin, the
    // window-index pin's shape: a FIXED delta committed against summaries of
    // x1/x3/x10 total cardinality must shuffle the SAME rows — growth
    // lives entirely in buckets the delta never touches, so the merge
    // reads exactly the touched leaves' fixed content. The plain pointer
    // mode replica at the same scales self-validates the instrument: its
    // merge unions the WHOLE summary, so ITS rows must grow, or this pin
    // is measuring nothing. Keys added for growth are filtered to hash
    // OUTSIDE the delta's bucket set with the commit's own bucket
    // expression — the untouched-growth regime of a 100 TB view with
    // localized updates, in miniature.
    import graft.streaming.SummaryMaintenance
    val N = 64
    def bucketOf(c: org.apache.spark.sql.Column) =
      pmod(xxhash64(c), lit(N.toLong)).cast("int")
    val fixedKeys = spark.range(0L, 10L).select(col("id").as("k"))
    val b0 = fixedKeys.select(bucketOf(col("k")).as("b")).distinct()
      .collect().map(_.getInt(0)).toSet
    def corpus(x: Int) = spark.range(1000L, 1000L + x * 5000L)
      .select(col("id").as("k"))
      .filter(!bucketOf(col("k")).isin(b0.toSeq: _*))
      .unionByName(fixedKeys)
      .select(col("k"), pmod(col("k"), lit(97)).cast("double").as("v"))
    val delta = fixedKeys.select(col("k"), lit(1.0).as("v"))
    val collector = new Bench.ShuffleByteCollector
    spark.sparkContext.addSparkListener(collector)
    def commitRows(buckets: Int, x: Int): Long = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_sum_scale_b${buckets}_x$x").toString
      graft.Util.withSessionConf(spark,
          SummaryMaintenance.CommitModeKey, "pointer") {
        graft.Util.withSessionConf(spark,
            SummaryMaintenance.BucketsKey, buckets.toString) {
          SummaryMaintenance.applyBatch(spark, dir, corpus(x), 0L,
            Seq("k"), "v")
          org.apache.spark.graft.ListenerBridge
            .waitUntilEmpty(spark.sparkContext)
          collector.reset()
          SummaryMaintenance.applyBatch(spark, dir, delta, 1L,
            Seq("k"), "v")
          org.apache.spark.graft.ListenerBridge
            .waitUntilEmpty(spark.sparkContext)
          collector.totals._2
        }
      }
    }
    try {
      val bucketed = Seq(1, 3, 10).map(x => x -> commitRows(N, x))
      val plain = Seq(1, 10).map(x => x -> commitRows(0, x))
      info(s"bucketed delta-commit shuffle rows: $bucketed; plain: $plain")
      assert(bucketed.head._2 > 0L,
        "instrument must see the commit's shuffles")
      assert(bucketed.map(_._2).distinct.size === 1,
        s"bucketed commit shuffle rows grew with TOTAL cardinality: " +
          s"$bucketed — untouched buckets are crossing the wire again")
      assert(plain(1)._2 > 2L * plain(0)._2 &&
          plain(1)._2 > 2L * bucketed.last._2,
        s"self-check: the plain replica must degrade with cardinality " +
          s"(plain=$plain vs bucketed=$bucketed) — if it does not, this " +
          "pin is measuring nothing")
    } finally spark.sparkContext.removeSparkListener(collector)
  }

  test("summary commit modes stay within their job budgets: swap 1, " +
      "pointer 1, bucketed 2 jobs/commit (r16, VERDICT #5)") {
    // maintained views run foreachBatch in the same 10k-batches/day
    // regime as the three ingest gates (pinned 12/8/10); measured
    // at sf0.01 (PERF.md r16): swap 1, pointer 1,
    // bucketed 2 jobs per steady-state commit, after the committer's
    // stored-summary reads went explicit-schema (the first profile
    // read 2/2/3 — the extra job everywhere was parquet footer
    // inference on the summary the committer itself wrote). The pin
    // (one job of slack each) is the behavioral guard against a
    // broadcast exchange or footer-inference job creeping back into
    // the commit path — each such regression adds >= 1 job per
    // micro-batch, pure driver pressure at scale. Job-group-scoped:
    // the spec session is shared across suites, and async work from
    // another suite landing in the window must not fail the pin.
    import graft.streaming.SummaryMaintenance
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("user_id"), col("value"))
    def evBatch(b: Long) = events.filter(pmod(col("event_id"), lit(3)) === b)
    val group = "graft_summary_budget_pin"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val jl = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
        ()
      }
    }
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(jl)
    try {
      for ((mode, buckets, budget) <- Seq(("swap", 0, 2), ("pointer", 0, 2),
          ("pointer", 16, 3))) {
        val label = if (buckets > 0) "bucketed" else mode
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft_sum_budget_$label").toString
        graft.Util.withSessionConf(spark,
            SummaryMaintenance.CommitModeKey, mode) {
          graft.Util.withSessionConf(spark,
              SummaryMaintenance.BucketsKey, buckets.toString) {
            // two setup commits so the measured third is steady-state
            // (merge path, GC path, and manifest chain all warm)
            SummaryMaintenance.applyBatch(spark, dir, evBatch(0L), 0L,
              Seq("user_id"), "value")
            SummaryMaintenance.applyBatch(spark, dir, evBatch(1L), 1L,
              Seq("user_id"), "value")
            org.apache.spark.graft.ListenerBridge
              .waitUntilEmpty(spark.sparkContext)
            jobs.set(0)
            spark.sparkContext.setJobGroup(group, s"summary $label budget")
            try SummaryMaintenance.applyBatch(spark, dir, evBatch(2L), 2L,
              Seq("user_id"), "value")
            finally spark.sparkContext.clearJobGroup()
            org.apache.spark.graft.ListenerBridge
              .waitUntilEmpty(spark.sparkContext)
            val n = jobs.get
            assert(n <= budget,
              s"summary $label commit spent $n jobs (budget $budget) — " +
                "a broadcast or footer-inference job crept into the " +
                "commit path")
          }
        }
      }
    } finally spark.sparkContext.removeSparkListener(jl)
  }

  test("readSummaryKey scans exactly ONE bucket leaf and plans with " +
      "zero driver jobs (r17, VERDICT #3)") {
    // the serving path the bucketed layout exists for: the key's bucket
    // is recomputed driver-side from the _schema stamp (no jobs, no
    // footer inference) and only that bucket's mapped leaf is read —
    // O(summary / buckets) per lookup where readSummary pays
    // O(summary). The pin is the files-read count (the PartitionFilters
    // analog for the manifest layout): every input file of the lookup
    // plan lives under one bucket=<b> leaf of one part dir.
    import graft.streaming.SummaryMaintenance
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("user_id"), col("value"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sum_lookup_pin").toString
    graft.Util.withSessionConf(spark,
        SummaryMaintenance.CommitModeKey, "pointer") {
      graft.Util.withSessionConf(spark,
          SummaryMaintenance.BucketsKey, "16") {
        for (b <- 0L to 2L)
          SummaryMaintenance.applyBatch(spark, dir,
            events.filter(pmod(col("event_id"), lit(3)) === b), b,
            Seq("user_id"), "value")
      }
    }
    val fullFiles = SummaryMaintenance.readSummary(spark, dir).get
      .inputFiles.toSet
    def leafOf(f: String): String =
      f.substring(0, f.lastIndexOf('/')) // .../part.vX/bucket=B
    assert(fullFiles.map(leafOf).size > 4,
      s"fixture too small to prove pruning: ${fullFiles.map(leafOf)}")
    val k = SummaryMaintenance.readSummary(spark, dir).get
      .select(col("user_id")).orderBy(col("user_id")).limit(1)
      .collect()(0).getLong(0)
    // plan the lookup under a job group: building it must spend ZERO
    // jobs (the schema stamp replaces footer inference; the bucket is
    // evaluated on the driver, not via a Spark action)
    val group = "graft_summary_lookup_pin"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val jl = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
        ()
      }
    }
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(jl)
    val lookup =
      try {
        spark.sparkContext.setJobGroup(group, "summary keyed lookup plan")
        try {
          // the stamped full read must also plan job-free (r17: external
          // readSummary rides the _schema stamp, no footer inference)
          SummaryMaintenance.readSummary(spark, dir).get
          SummaryMaintenance.readSummaryKey(spark, dir,
            Seq("user_id"), Seq(k))
        } finally spark.sparkContext.clearJobGroup()
      } finally {
        org.apache.spark.graft.ListenerBridge
          .waitUntilEmpty(spark.sparkContext)
        spark.sparkContext.removeSparkListener(jl)
      }
    assert(jobs.get === 0,
      s"planning the lookup spent ${jobs.get} jobs — footer inference " +
        "or a driver-side action crept into the serving path")
    val lookupLeaves = lookup.inputFiles.toSet.map(leafOf)
    assert(lookupLeaves.size === 1,
      s"the keyed lookup must scan exactly one bucket leaf, got " +
        s"$lookupLeaves (full closure: ${fullFiles.map(leafOf)})")
    assert(lookupLeaves.subsetOf(fullFiles.map(leafOf)),
      "the scanned leaf must belong to the live manifest closure")
    // and it returns the same row the full read filters to
    val viaFull = SummaryMaintenance.readSummary(spark, dir).get
      .filter(col("user_id") === k).collect()
    val viaKey = lookup.collect()
    assert(viaKey.length === 1 &&
      viaKey(0).toSeq === viaFull(0).toSeq,
      "the one-leaf lookup must serve the same row as the full read")
  }
}
