package graft

import graft.catalyst.GraftExtensions
import graft.llm.Similarity
import org.apache.spark.sql.functions._

class CatalystSpec extends SparkSpec {
  import spark.implicits._

  override def withFixture(test: NoArgTest) = {
    GraftExtensions.install(spark)
    super.withFixture(test)
  }

  test("cosine_sim equals the HOF composition bit-for-bit") {
    val emb = Util.table(spark, "/root/testdata/sf0.001", "embeddings")
      .limit(100)
    val a = emb.select(col("vec_id").as("ia"),
      Similarity.toDouble(col("embedding")).as("va"))
    val b = emb.select(col("vec_id").as("ib"),
      Similarity.toDouble(col("embedding")).as("vb"))
    val both = a.join(b, col("ia") < col("ib"))
      .select(
        GraftExtensions.cosineSim(col("va"), col("vb")).as("native"),
        Similarity.cosine(col("va"), col("vb")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    assert(both.forall(r => r.getDouble(0) == r.getDouble(1)))
  }

  test("cosine_sim handles nulls, zero vectors, and float input") {
    val df = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(2.0f, 4.0f))),
      (Some(Seq(0.0f, 0.0f)), Some(Seq(1.0f, 1.0f))),
      (None, Some(Seq(1.0f, 1.0f)))
    ).toDF("a", "b")
    val out = df.select(GraftExtensions.cosineSim(col("a"), col("b"))).collect()
    assert(math.abs(out(0).getDouble(0) - 1.0) < 1e-12) // parallel vectors
    assert(out(1).getDouble(0) === 0.0)                 // zero norm
    assert(out(2).isNullAt(0))                          // null propagates
  }

  test("cosine_sim matches the HOF form on ragged and null-element arrays") {
    // ragged lengths and null elements must be NULL on BOTH paths, so the
    // cosineFor implementation switch can never change results
    val df = Seq(
      (Seq(Some(1.0), Some(2.0), Some(3.0)), Seq(Some(1.0), Some(2.0))),
      (Seq(Some(1.0), None), Seq(Some(1.0), Some(2.0)))
    ).toDF("a", "b")
    val out = df.select(
      GraftExtensions.cosineSim(col("a"), col("b")).as("native"),
      Similarity.cosine(col("a"), col("b")).as("hof")).collect()
    out.foreach { r =>
      assert(r.isNullAt(0), s"native must be null: $r")
      assert(r.isNullAt(1), s"hof must be null: $r")
    }
  }

  test("cosine_sim zero-norm edges match the HOF form, incl. ragged") {
    // the HOF's `when(d === 0, 0.0)` fires on a zero-norm side BEFORE the
    // padded dot is looked at — so empty/zero vectors yield 0.0 even
    // against a different-length side, and the native expression must
    // agree or the cosineFor install switch changes query results
    val df = Seq(
      (Seq.empty[Option[Double]], Seq(Some(1.0), Some(2.0))),
      (Seq(Some(0.0), Some(0.0)), Seq(Some(1.0), Some(2.0), Some(3.0))),
      (Seq(Some(1.0), None), Seq(Some(0.0)))
    ).toDF("a", "b")
    val out = df.select(
      GraftExtensions.cosineSim(col("a"), col("b")).as("native"),
      Similarity.cosine(col("a"), col("b")).as("hof")).collect()
    assert(out(0).getDouble(0) === 0.0 && out(0).getDouble(1) === 0.0,
      "empty side: 0.0 on both paths")
    assert(out(1).getDouble(0) === 0.0 && out(1).getDouble(1) === 0.0,
      "zero-norm ragged: 0.0 on both paths")
    assert(out(2).isNullAt(0) && out(2).isNullAt(1),
      "null element poisons the norm product before the zero check")
  }

  test("LevenshteinBandRule rewrites naive predicates and preserves results") {
    val l = Seq("kitten", "apple", "zzzzzzzzzzzzzz").toDF("a")
    val r = Seq("sitting", "apples", "mitten").toDF("b")
    // naive theta join written WITHOUT the band (raw functions.levenshtein)
    val joined = l.join(r, levenshtein(col("a"), col("b")) <= 3)
    val optimized = joined.queryExecution.optimizedPlan.toString
    assert(optimized.contains("levenshtein(a"),
      s"expected levenshtein in plan:\n$optimized")
    assert(optimized.contains("length"),
      s"band rewrite missing — no length() in optimized plan:\n$optimized")
    assert(optimized.contains("Some(3)) >= 0"),
      s"bounded levenshtein missing in optimized plan:\n$optimized")
    val rows = joined.collect().map(x => (x.getString(0), x.getString(1))).toSet
    assert(rows === Set(("kitten", "sitting"), ("kitten", "mitten"),
      ("apple", "apples")))
  }

  test("bloom prefilter: no false negatives, real pruning, join unchanged") {
    // the semi-join prefilter shape: bloom over the small side's keys,
    // cheap probe on the big side BEFORE the real join
    val small = Util.table(spark, "/root/testdata/sf0.001", "orders")
      .filter(col("o_orderkey") % 97 === 0)
    val big = Util.table(spark, "/root/testdata/sf0.001", "lineitem")
    small.createOrReplaceTempView("graft_bloom_small")
    big.createOrReplaceTempView("graft_bloom_big")
    // might_contain requires the bloom as a constant or scalar subquery —
    // the subquery executes once and broadcasts the KB-sized filter
    val prefiltered = spark.sql(
      """SELECT b.* FROM graft_bloom_big b
        |WHERE might_contain(
        |  (SELECT bloom_filter_agg(xxhash64(o_orderkey))
        |   FROM graft_bloom_small),
        |  xxhash64(b.l_orderkey))""".stripMargin)
    val trueMatches = big.join(small,
      col("l_orderkey") === col("o_orderkey")).count()
    val afterJoin = prefiltered.join(small,
      col("l_orderkey") === col("o_orderkey")).count()
    assert(afterJoin === trueMatches, "prefilter must never drop a match")
    val kept = prefiltered.count()
    assert(kept < big.count() / 10,
      s"bloom should prune most non-matching rows (kept $kept)")
  }

  test("native top-k per key equals the window form row-for-row") {
    val orders = Util.table(spark, "/root/testdata/sf0.001", "orders")
    val native = ops.BestMatch.topKPerKeyNative(orders,
        Seq("o_custkey"), Seq("o_totalprice" -> false, "o_orderkey" -> true),
        3, "rank")
      .select(col("o_custkey"), col("o_orderkey"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val window = ops.BestMatch.topKPerKey(orders, Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
      .select(col("o_custkey"), col("o_orderkey"),
        col("__graft_rank").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(native === window)
    assert(native.nonEmpty)
  }

  test("native top-k plans partial/final heaps around one exchange, no sort") {
    val orders = Util.table(spark, "/root/testdata/sf0.001", "orders")
    val df = ops.BestMatch.topKPerKeyNative(orders,
      Seq("o_custkey"), Seq("o_totalprice" -> false), 2)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert("TopKPerKey".r.findAllIn(plan).length >= 2,
      s"expected partial+final TopKPerKeyExec:\n$plan")
    assert(plan.contains("Exchange"), s"expected a key exchange:\n$plan")
    assert(!plan.contains("Sort"), s"no sort should be planned:\n$plan")
    assert(!plan.contains("Window"), s"no window should be planned:\n$plan")
  }

  test("native top-k handles k larger than group size and single groups") {
    val df = Seq((1L, 10.0), (1L, 20.0), (2L, 5.0)).toDF("k", "v")
    val out = ops.BestMatch.topKPerKeyNative(df, Seq("k"),
        Seq("v" -> false), 5, "r")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(out === Set((1L, 20.0, 1L), (1L, 10.0, 2L), (2L, 5.0, 1L)))
  }

  test("native top-k canonicalizes float keys like the window plan (r13)") {
    // WindowTopKRule replaces the Window BEFORE NormalizeFloatingNumbers'
    // batch on the injectOptimizerRule path, and that rule does not
    // recognize TopKPerKeyNode — so nested -0.0/0.0 keys used to
    // byte-compare as TWO groups with independent ranks. The strategy
    // now normalizes; both forms must agree.
    val df = Seq((-0.0, 1L), (0.0, 2L), (1.5, 3L), (1.5, 4L))
      .toDF("g0", "id")
      .select(struct(col("g0")).as("g"), col("id"))
    val native = graft.ops.BestMatch.topKPerKeyNative(df,
        Seq("g"), Seq(("id", true)), 1)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    import org.apache.spark.sql.expressions.Window
    val win = df.withColumn("rn", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("id").asc)))
      .filter(col("rn") <= 1)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(win === Set(1L, 3L), "window treats -0.0 == 0.0: one group")
    assert(native === win,
      "native must canonicalize -0.0/0.0 struct keys into ONE group")
  }

  test("partial top-k budget: pass-through keeps results exact (r13)") {
    // past the buffered-row budget the partial stops growing and passes
    // rows through to the shuffle; the final exec re-heaps, so results
    // must be identical — only memory/shuffle volume change. Shrink the
    // budget so a 5k-row near-unique-key input crosses it immediately.
    val saved = graft.catalyst.TopKPerKeyExec.PartialBufferRows
    graft.catalyst.TopKPerKeyExec.PartialBufferRows = 64L
    try {
      val df = spark.range(5000)
        .select(col("id"), (col("id") % 2500).as("key"),
          (col("id") * 37 % 101).as("v"))
      val native = graft.ops.BestMatch.topKPerKeyNative(df,
          Seq("key"), Seq(("v", true), ("id", true)), 2)
        .select(col("key"), col("id"), col("__graft_rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      import org.apache.spark.sql.expressions.Window
      val win = df.withColumn("rn", row_number().over(
          Window.partitionBy(col("key"))
            .orderBy(col("v").asc, col("id").asc)))
        .filter(col("rn") <= 2)
        .select(col("key"), col("id"), col("rn").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(native === win,
        "budget pass-through must not change a single rank")
    } finally graft.catalyst.TopKPerKeyExec.PartialBufferRows = saved
  }

  test("partial top-k budget: key-explosion degraded mode is exact and " +
      "its shuffle inflation is measured (r14)") {
    // keys >> budget/k: per-key overhead dominates (every heap holds
    // ~1-2 rows), the partial crosses its budget almost immediately and
    // passes the rest of the input through to the shuffle unaggregated.
    // This pins BOTH halves of the r13 trade: (1) ranks stay exact —
    // the final exec re-heaps the superset; (2) the cost is visible as
    // shuffle-record inflation, measured here with the same listener
    // the bench's shape-drift instrument uses, so the degraded mode is
    // quantified rather than just reasoned about (VERDICT r13 #3).
    val n = 40000L
    // key = id/2: ADJACENT rows share a key, so the partial can halve
    // the shuffle when its budget allows (a modulo key would spread
    // each key across partitions and give the partial nothing to
    // collapse, hiding the very inflation this test measures)
    val df = spark.range(n)
      .select(col("id"), (col("id") / 2).cast("long").as("key"),
        (col("id") * 37 % 101).as("v"))
    def run(budget: Long): (Set[(Long, Long)], Long) = {
      val saved = graft.catalyst.TopKPerKeyExec.PartialBufferRows
      graft.catalyst.TopKPerKeyExec.PartialBufferRows = budget
      try {
        val collector = new Bench.ShuffleByteCollector
        org.apache.spark.graft.ListenerBridge
          .waitUntilEmpty(spark.sparkContext)
        spark.sparkContext.addSparkListener(collector)
        try {
          val rows = graft.ops.BestMatch.topKPerKeyNative(df,
              Seq("key"), Seq(("v", true), ("id", true)), 1)
            .select(col("key"), col("id"))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          org.apache.spark.graft.ListenerBridge
            .waitUntilEmpty(spark.sparkContext)
          (rows, collector.totals._2)
        } finally spark.sparkContext.removeSparkListener(collector)
      } finally graft.catalyst.TopKPerKeyExec.PartialBufferRows = saved
    }
    val (full, rowsAggregated) = run(1L << 20) // budget >> keys: no pass-through
    val (tiny, rowsDegraded) = run(64L)        // budget << keys: ~all pass through
    assert(tiny === full,
      "degraded (budget-exceeded) mode must not change a single rank")
    assert(full.size === 20000)
    // with the budget the partial collapses 40k rows to <=20k candidates;
    // past it essentially the whole input crosses the wire — the
    // inflation must be REAL (else the budget isn't doing anything) and
    // bounded by the input size (pass-through never duplicates rows)
    assert(rowsDegraded > rowsAggregated,
      s"expected shuffle inflation, got $rowsAggregated -> $rowsDegraded")
    assert(rowsDegraded <= n + 4096,
      s"pass-through must never exceed input rows: $rowsDegraded > $n")
    info(s"shuffle records: aggregated=$rowsAggregated " +
      s"degraded=$rowsDegraded " +
      f"(${rowsDegraded.toDouble / rowsAggregated}%.2fx)")
  }

  test("native top-k equals window form on randomized data (20 trials)") {
    val rnd = new scala.util.Random(42)
    (1 to 20).foreach { _ =>
      val n = 1 + rnd.nextInt(200)
      val nKeys = 1 + rnd.nextInt(8)
      val k = 1 + rnd.nextInt(5)
      // duplicate order values force the o_orderkey-style tiebreaker path
      val data = (0 until n).map { i =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(4).toDouble, i.toLong)
      }
      val df = data.toDF("key", "v", "tie").repartition(4)
      val native = ops.BestMatch.topKPerKeyNative(df, Seq("key"),
          Seq("v" -> false, "tie" -> true), k, "r")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
          r.getLong(3))).toSet
      val window = ops.BestMatch.topKPerKey(df, Seq(col("key")),
          Seq(col("v").desc, col("tie")), k)
        .select(col("key"), col("v"), col("tie"),
          col("__graft_rank").cast("long"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(native === window, s"n=$n nKeys=$nKeys k=$k")
    }
  }

  test("rule also fires through raw spark.sql text") {
    val res = spark.sql(
      "SELECT levenshtein('kitten', x) <= 2 AS m FROM VALUES ('mitten'), " +
        "('aaaaaaaaaaaa') AS t(x)").collect().map(_.getBoolean(0))
    assert(res.toSeq.sorted === Seq(false, true))
  }

  test("band rule property sweep: raw SQL × d in 0..8 × all predicate " +
      "forms == plain-JVM Levenshtein") {
    // seeded random pairs over a 3-letter alphabet (dense distance
    // spectrum), evaluated through spark.sql TEXT so the rewrite path under
    // test is the SQL parser -> optimizer one, and checked against an
    // independent JVM DP
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(77)
    def randStr() = (0 until rnd.nextInt(11))
      .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    val pairs = Seq.fill(120)((randStr(), randStr()))
    pairs.toDF("a", "b").createOrReplaceTempView("graft_band_prop")
    for (d <- 0 to 8) {
      val forms = Seq(
        s"levenshtein(a, b) <= $d" -> ((x: Int) => x <= d),
        s"levenshtein(a, b) < $d" -> ((x: Int) => x < d),
        s"levenshtein(a, b) = $d" -> ((x: Int) => x == d),
        s"$d >= levenshtein(a, b)" -> ((x: Int) => d >= x),
        s"$d > levenshtein(a, b)" -> ((x: Int) => d > x))
      forms.foreach { case (pred, ref) =>
        val got = spark.sql(
            s"SELECT a, b FROM graft_band_prop WHERE $pred")
          .collect().map(r => (r.getString(0), r.getString(1))).toSet
        val want = pairs.filter(p => ref(lev(p._1, p._2))).toSet
        assert(got === want, s"mismatch for '$pred'")
      }
    }
  }

  test("WindowTopKRule: standard SQL row_number filter gets the native plan") {
    Util.table(spark, "/root/testdata/sf0.001", "orders")
      .createOrReplaceTempView("graft_wtk_orders")
    val sql =
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM graft_wtk_orders) WHERE rn <= 3""".stripMargin
    val df = spark.sql(sql)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"),
      s"row_number <= k should plan as TopKPerKeyExec:\n$plan")
    // neither the window sort NOR Spark's own sort-based group-limit
    // prefilter may remain — the bounded heap subsumes both
    assert(!plan.contains("Window") && !plan.contains("Sort"),
      s"window machinery must be gone:\n$plan")
    // results equal the window semantics (computed rank-free, checked
    // driver-side so no rewrite can fire on the expectation)
    val expected = Util.table(spark, "/root/testdata/sf0.001", "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.flatMap { case (ck, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(3).zipWithIndex
          .map { case (r, i) => (ck, r._2, i + 1) }.toSeq
      }.toSet
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === expected)
    // schema keeps the user's rank name and IntegerType
    assert(df.schema("rn").dataType ===
      org.apache.spark.sql.types.IntegerType)
    // shapes the rule must NOT touch: rank referenced with a residual
    // predicate, and rn = k for k > 1
    val residual = spark.sql(sql.replace("WHERE rn <= 3",
      "WHERE rn <= 3 AND o_orderkey > 100"))
    assert(residual.queryExecution.executedPlan.toString.contains("Window"))
    val eqK = spark.sql(sql.replace("WHERE rn <= 3", "WHERE rn = 2"))
    assert(eqK.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("band rule rewrites <, =, and reversed forms with identical results") {
    val l = Seq("kitten", "apple", "zzzz").toDF("a")
    val r = Seq("sitting", "apples", "mitten", "kitten").toDF("b")
    def pairs(pred: org.apache.spark.sql.Column) =
      l.join(r, pred).collect()
        .map(x => (x.getString(0), x.getString(1))).toSet
    // strict less-than: rewritten to <= d-1
    val lt = pairs(levenshtein(col("a"), col("b")) < 2)
    assert(lt === Set(("kitten", "mitten"), ("kitten", "kitten"),
      ("apple", "apples")))
    // equality: exact-distance predicate through the bounded DP
    val eq = pairs(levenshtein(col("a"), col("b")) === 3)
    val eqPlan = l.join(r, levenshtein(col("a"), col("b")) === 3)
      .queryExecution.optimizedPlan.toString
    assert(eqPlan.contains("Some(3)"),
      s"= form should use the bounded DP:\n$eqPlan")
    assert(eq === Set(("kitten", "sitting")))
  }

  test("LevJoinKernelRule routes a large same-length SQL theta join " +
      "through the chunked kernel") {
    import graft.catalyst.LevJoinKernelRule
    // same-length corpus: the blocked kernel's quadratic regime (every
    // pair shares one length), exactly where the chooser must pick the
    // chunk filter. Fixed-width zero-padded ids, lev <= 2 = ids
    // differing in at most 2 digit positions.
    val n = 600
    val docs = spark.range(n.toLong).select(col("id"),
      concat(lit("doc_"), lpad(col("id").cast("string"), 6, "0")).as("k"))
    docs.createOrReplaceTempView("graft_lev_l")
    docs.select(col("id").as("id2"), col("k").as("k2"))
      .createOrReplaceTempView("graft_lev_r")
    val sql = "SELECT l.id, r.id2 FROM graft_lev_l l JOIN graft_lev_r r " +
      "ON levenshtein(l.k, r.k2) <= 2"
    spark.conf.set(LevJoinKernelRule.MinSideBytesKey, "1")
    try {
      val routed = spark.sql(sql)
      val plan = routed.queryExecution.optimizedPlan.toString
      // chunked-kernel shape: hash-surrogate candidate joins, and no
      // levenshtein anywhere in a JOIN condition (only in the verify
      // filter, bounded)
      assert(plan.contains("xxhash64"),
        s"expected the chunked kernel's hash joins in:\n$plan")
      assert(!plan.contains("Join Inner, (levenshtein"),
        s"lev theta join survived the rewrite:\n$plan")
      val got = routed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // ground truth: the same SQL with the rule disabled (the naive
      // banded nested-loop plan Spark runs today)
      spark.conf.set(LevJoinKernelRule.EnabledKey, "false")
      val naive = spark.sql(sql)
      assert(!naive.queryExecution.optimizedPlan.toString
        .contains("xxhash64"))
      val want = naive.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, s"rewritten results diverge: ${got.size} vs " +
        s"${want.size} pairs")
      assert(want.size > n, "fixture should produce real near-matches")
      // plan cache: re-optimizing the same join (fresh Dataset,
      // canonically equal children) must splice the cached kernel and
      // run ZERO Spark jobs — no histogram or distinct-length collects
      spark.conf.set(LevJoinKernelRule.EnabledKey, "true")
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val jl = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(jl)
      try {
        val again = spark.sql(sql)
        assert(again.queryExecution.optimizedPlan.toString
          .contains("xxhash64"))
        Thread.sleep(1000)
        assert(jobs.get() === 0,
          s"plan-cache miss: ${jobs.get()} jobs ran during re-optimization")
        // the spliced copy is RE-INSTANCED (fresh expr ids) — it must
        // still execute to the same result
        assert(again.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          === want)
      } finally spark.sparkContext.removeSparkListener(jl)
      // two canonically-equal join sites in ONE query: each cache splice
      // re-instances, so no attribute id is shared across plan branches
      // (post-analysis rules assume globally unique ids)
      val twice = spark.sql(s"$sql UNION ALL $sql")
      assert(twice.count() === 2L * want.size)
    } finally {
      spark.conf.unset(LevJoinKernelRule.MinSideBytesKey)
      spark.conf.unset(LevJoinKernelRule.EnabledKey)
    }
    // small sides (the reference's 64-row class) stay nested-loop: the
    // default 8 MiB floor leaves q_similarity_join-shaped plans alone
    val small = spark.sql(sql).queryExecution.optimizedPlan.toString
    assert(!small.contains("xxhash64"),
      s"small-side join must keep the broadcast NL plan:\n$small")
  }

  test("LevJoinKernelRule picks the BLOCKED kernel on a spread-length corpus") {
    import graft.catalyst.LevJoinKernelRule
    // UNIQUE length per row: the length equi-join's candidate volume is
    // ~1 partner per band slot, so the chooser must pick blocked (the
    // chunked substring volume, ~(d+1)² per in-band length, dominates)
    // — the rule's other arm
    val n = 500
    val docs = spark.range(n.toLong).select(col("id"),
      concat(lit("w"), expr("repeat('x', CAST(id AS INT))"),
        col("id").cast("string")).as("k"))
    docs.createOrReplaceTempView("graft_levb_l")
    docs.select(col("id").as("id2"), col("k").as("k2"))
      .createOrReplaceTempView("graft_levb_r")
    val sql = "SELECT l.id, r.id2 FROM graft_levb_l l JOIN graft_levb_r r " +
      "ON levenshtein(l.k, r.k2) <= 2"
    spark.conf.set(LevJoinKernelRule.MinSideBytesKey, "1")
    try {
      val routed = spark.sql(sql)
      val plan = routed.queryExecution.optimizedPlan.toString
      assert(plan.contains("__graft_len_band") && !plan.contains("__gci"),
        s"expected the blocked kernel shape:\n$plan")
      val got = routed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.conf.set(LevJoinKernelRule.EnabledKey, "false")
      val want = spark.sql(sql).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want)
      assert(want.size >= n, "every row matches itself at least")
    } finally {
      spark.conf.unset(LevJoinKernelRule.MinSideBytesKey)
      spark.conf.unset(LevJoinKernelRule.EnabledKey)
    }
  }

  test("a malformed levJoinKernel.enabled value never fails queries") {
    import graft.catalyst.LevJoinKernelRule
    // apply() runs for EVERY plan in the session — pre-r12 a bare
    // .toBoolean on the flag made `set enabled=1` (or "yes") throw at
    // the top of every optimization, failing every query in the session.
    // Non-true/false values count as enabled (the default); only exactly
    // "false" disables.
    val sql = "SELECT l.id a, r.id2 b FROM lev_probe_l l JOIN " +
      "lev_probe_r r ON levenshtein(l.k, r.k2) <= 1"
    Seq((1L, "ab")).toDF("id", "k").createOrReplaceTempView("lev_probe_l")
    Seq((2L, "ab")).toDF("id2", "k2")
      .createOrReplaceTempView("lev_probe_r")
    spark.conf.set(LevJoinKernelRule.MinSideBytesKey, "1")
    try {
      for (v <- Seq("1", "yes", " TRUE ", "")) {
        spark.conf.set(LevJoinKernelRule.EnabledKey, v)
        assert(Seq((1L, "a")).toDF("id", "s").count() === 1L,
          s"flag value '$v' must not fail unrelated queries")
        assert(spark.sql(sql).queryExecution.optimizedPlan.toString
          .contains("__graft_sql_lev_dist"),
          s"non-false value '$v' must count as enabled")
      }
      spark.conf.set(LevJoinKernelRule.EnabledKey, "FALSE")
      assert(!spark.sql(sql).queryExecution.optimizedPlan.toString
        .contains("__graft_sql_lev_dist"),
        "case-insensitive false must still disable the rewrite")
    } finally {
      spark.conf.unset(LevJoinKernelRule.EnabledKey)
      spark.conf.unset(LevJoinKernelRule.MinSideBytesKey)
    }
  }

  test("LevJoinKernelRule routes DataFrame-API lev joins too (r13: not " +
      "just raw SQL text)") {
    import graft.catalyst.LevJoinKernelRule
    // The rule matches the optimized LOGICAL plan, so a join built with
    // the Column API — df.join(other, levenshtein(a, b) <= d) — must
    // re-plan through the kernel exactly like the spark.sql form; a
    // user on the DataFrame API must not silently keep the BNLJ plan.
    val n = 600
    val l = spark.range(n.toLong).select(col("id"),
      concat(lit("doc_"), lpad(col("id").cast("string"), 6, "0")).as("k"))
    val r = l.select(col("id").as("id2"), col("k").as("k2"))
    spark.conf.set(LevJoinKernelRule.MinSideBytesKey, "1")
    try {
      val apiJoin = l.join(r, levenshtein(col("k"), col("k2")) <= 2)
        .select(col("id"), col("id2"))
      val plan = apiJoin.queryExecution.optimizedPlan.toString
      assert(plan.contains("xxhash64"),
        s"API-built lev join must route through the kernel:\n$plan")
      assert(!plan.contains("Join Inner, (levenshtein"),
        s"lev theta join survived the rewrite:\n$plan")
      val got = apiJoin.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      spark.conf.set(LevJoinKernelRule.EnabledKey, "false")
      val want = l.join(r, levenshtein(col("k"), col("k2")) <= 2)
        .select(col("id"), col("id2"))
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(got === want)
      assert(want.size > n, "fixture should produce real near-matches")
      // LEFT outer through the API as well
      spark.conf.unset(LevJoinKernelRule.EnabledKey)
      val lonely = Seq((9999999L, "zzzzzzzzzzzzzzz")).toDF("id", "k")
      val apiLeft = l.unionByName(lonely)
        .join(r, levenshtein(col("k"), col("k2")) <= 2, "left")
        .select(col("id"), col("id2"))
      assert(apiLeft.queryExecution.optimizedPlan.toString
        .contains("xxhash64"), "API LEFT lev join must route too")
      val gotL = apiLeft.collect()
        .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1)))
        .toSet
      assert(gotL.contains((9999999L, -1L)),
        "unmatched left row must survive null-padded")
      assert(gotL.filter(_._2 >= 0L) === got.map(identity),
        "LEFT matches must equal the inner matches")
    } finally {
      spark.conf.unset(LevJoinKernelRule.EnabledKey)
      spark.conf.unset(LevJoinKernelRule.MinSideBytesKey)
    }
  }

  test("LevJoinKernelRule also routes LEFT lev joins (the stringdist_left_join " +
      "shape) with null-padded unmatched rows") {
    import graft.catalyst.LevJoinKernelRule
    val n = 400
    val docs = spark.range(n.toLong).select(col("id"),
      concat(lit("doc_"), lpad(col("id").cast("string"), 6, "0")).as("k"))
    // five left rows with no admissible partner (wrong length class):
    // they must survive the rewrite as null-padded rows
    val lonely = spark.range(5L).select((col("id") + 10000L).as("id"),
      concat(lit("unmatchable_string_"), col("id").cast("string")).as("k"))
    docs.unionByName(lonely).createOrReplaceTempView("graft_levl_l")
    docs.select(col("id").as("id2"), col("k").as("k2"))
      .createOrReplaceTempView("graft_levl_r")
    val sql = "SELECT l.id, r.id2 FROM graft_levl_l l LEFT JOIN " +
      "graft_levl_r r ON levenshtein(l.k, r.k2) <= 2"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    spark.conf.set(LevJoinKernelRule.MinSideBytesKey, "1")
    try {
      val routed = spark.sql(sql)
      val plan = routed.queryExecution.optimizedPlan.toString
      assert(plan.contains("xxhash64"),
        s"expected the kernel in the LEFT join plan:\n$plan")
      assert(!plan.contains("Join LeftOuter, (levenshtein"),
        s"lev LEFT theta join survived the rewrite:\n$plan")
      val got = rows(routed)
      spark.conf.set(LevJoinKernelRule.EnabledKey, "false")
      val want = rows(spark.sql(sql))
      assert(got === want)
      // the lonely rows are present exactly once, null-padded
      assert((0 until 5).forall(i => got.contains((10000L + i, -1L))))
      assert(want.size > n)
    } finally {
      spark.conf.unset(LevJoinKernelRule.MinSideBytesKey)
      spark.conf.unset(LevJoinKernelRule.EnabledKey)
    }
  }

  test("LevJoinKernelRule composes residual conjuncts as a post-kernel " +
      "filter (inner)") {
    import graft.catalyst.LevJoinKernelRule
    val n = 500
    val docs = spark.range(n.toLong).select(col("id"),
      concat(lit("doc_"), lpad(col("id").cast("string"), 6, "0")).as("k"))
    docs.createOrReplaceTempView("graft_levres_l")
    docs.select(col("id").as("id2"), col("k").as("k2"))
      .createOrReplaceTempView("graft_levres_r")
    // the composite shape real users write: lev core + equi/range residual
    // NB no equi conjunct: `l.x = r.y` composites are now left to the
    // hash-join planner (see the dedicated guard test below)
    val sql = "SELECT l.id, r.id2 FROM graft_levres_l l JOIN " +
      "graft_levres_r r ON levenshtein(l.k, r.k2) <= 2 " +
      "AND l.id % 7 <= r.id2 % 7 AND r.id2 % 3 > 0"
    spark.conf.set(LevJoinKernelRule.MinSideBytesKey, "1")
    try {
      val routed = spark.sql(sql)
      val plan = routed.queryExecution.optimizedPlan.toString
      assert(plan.contains("xxhash64") || plan.contains("__graft_len_band"),
        s"expected a kernel shape in the composite-condition plan:\n$plan")
      val got = routed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.conf.set(LevJoinKernelRule.EnabledKey, "false")
      val naive = spark.sql(sql)
      assert(!naive.queryExecution.optimizedPlan.toString.contains("xxhash64"))
      val want = naive.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, s"composite rewrite diverges: ${got.size} vs " +
        s"${want.size} pairs")
      // the residual genuinely prunes: strictly fewer pairs than lev-only
      spark.conf.set(LevJoinKernelRule.EnabledKey, "true")
      val levOnly = spark.sql(sql.substring(0, sql.indexOf(" AND l.id")))
      assert(want.nonEmpty && want.size < levOnly.count())
    } finally {
      spark.conf.unset(LevJoinKernelRule.MinSideBytesKey)
      spark.conf.unset(LevJoinKernelRule.EnabledKey)
    }
  }

  test("LevJoinKernelRule LEFT with residual conjuncts pads on row " +
      "identity") {
    import graft.catalyst.LevJoinKernelRule
    val n = 400
    val docs = spark.range(n.toLong).select(col("id"),
      concat(lit("doc_"), lpad(col("id").cast("string"), 6, "0")).as("k"))
    // five left rows with no admissible lev partner at all
    val lonely = spark.range(5L).select((col("id") + 10000L).as("id"),
      concat(lit("unmatchable_string_"), col("id").cast("string")).as("k"))
    docs.unionByName(lonely).createOrReplaceTempView("graft_levlr_l")
    docs.select(col("id").as("id2"), col("k").as("k2"))
      .createOrReplaceTempView("graft_levlr_r")
    // residual touches BOTH sides and is strict enough that some
    // lev-MATCHED left rows lose every partner and must pad: row i
    // lev-matches many neighbours, but abs(l.id - r.id2) <= 0 kills all
    // of them except the self-pair (an inequality on purpose — an
    // EqualTo residual would correctly defer to the hash-join planner),
    // and r.id2 % 5 > 0 kills the self-pair for every fifth row
    val sql = "SELECT l.id, r.id2 FROM graft_levlr_l l LEFT JOIN " +
      "graft_levlr_r r ON levenshtein(l.k, r.k2) <= 2 " +
      "AND abs(l.id - r.id2) <= 0 AND r.id2 % 5 > 0"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
    spark.conf.set(LevJoinKernelRule.MinSideBytesKey, "1")
    try {
      val routed = spark.sql(sql)
      val plan = routed.queryExecution.optimizedPlan.toString
      assert(plan.contains("xxhash64") || plan.contains("__graft_len_band"),
        s"expected a kernel shape in the LEFT composite plan:\n$plan")
      assert(!plan.contains("Join LeftOuter, (levenshtein"),
        s"lev LEFT theta join survived the rewrite:\n$plan")
      val got = rows(routed)
      spark.conf.set(LevJoinKernelRule.EnabledKey, "false")
      val want = rows(spark.sql(sql))
      assert(got === want)
      // lonely rows pad exactly once; residual-padded rows exist too
      assert((0 until 5).forall(i => got.getOrElse((10000L + i, -1L), 0) == 1))
      assert(got.keys.count(_._2 == -1L) > 5,
        "some lev-matched rows must pad because the residual kills " +
          "every partner")
    } finally {
      spark.conf.unset(LevJoinKernelRule.MinSideBytesKey)
      spark.conf.unset(LevJoinKernelRule.EnabledKey)
    }
  }

  test("LevJoinKernelRule LEFT join tolerates overlapping column names") {
    import graft.catalyst.LevJoinKernelRule
    val n = 400
    val docs = spark.range(n.toLong).select(col("id"),
      concat(lit("doc_"), lpad(col("id").cast("string"), 6, "0")).as("k"))
    val lonely = spark.range(3L).select((col("id") + 10000L).as("id"),
      concat(lit("unmatchable_string_"), col("id").cast("string")).as("k"))
    docs.unionByName(lonely).createOrReplaceTempView("graft_levo_l")
    // BOTH sides carry columns named id and k — the rename-drift shape
    // that previously fell back to the nested-loop plan
    docs.createOrReplaceTempView("graft_levo_r")
    val sql = "SELECT * FROM graft_levo_l l LEFT JOIN graft_levo_r r " +
      "ON levenshtein(l.k, r.k) <= 2"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    spark.conf.set(LevJoinKernelRule.MinSideBytesKey, "1")
    try {
      val routed = spark.sql(sql)
      val plan = routed.queryExecution.optimizedPlan.toString
      assert(plan.contains("xxhash64"),
        s"overlapping-name LEFT join must still route to the kernel:\n$plan")
      val got = rows(routed)
      spark.conf.set(LevJoinKernelRule.EnabledKey, "false")
      val want = rows(spark.sql(sql))
      assert(got === want)
      assert(got.size > n)
    } finally {
      spark.conf.unset(LevJoinKernelRule.MinSideBytesKey)
      spark.conf.unset(LevJoinKernelRule.EnabledKey)
    }
  }

  test("LevJoinKernelRule defers to the hash-join planner when the " +
      "residual carries an equi conjunct, and refuses nondeterministic " +
      "children") {
    import graft.catalyst.LevJoinKernelRule
    val n = 450
    val docs = spark.range(n.toLong).select(col("id"),
      concat(lit("doc_"), lpad(col("id").cast("string"), 6, "0")).as("k"))
    docs.createOrReplaceTempView("graft_levguard_l")
    docs.select(col("id").as("id2"), col("k").as("k2"))
      .createOrReplaceTempView("graft_levguard_r")
    spark.conf.set(LevJoinKernelRule.MinSideBytesKey, "1")
    try {
      // l.id = r.id2 makes this a hash-joinable equi join with a lev
      // post-filter — near-linear already, nothing for the kernel to
      // rescue (and the kernel would materialize ALL lev-close pairs
      // ignoring the key). The rule must leave it alone.
      val equi = spark.sql(
        "SELECT l.id, r.id2 FROM graft_levguard_l l JOIN " +
          "graft_levguard_r r ON levenshtein(l.k, r.k2) <= 2 " +
          "AND l.id % 7 = r.id2 % 7")
      val equiPlan = equi.queryExecution.optimizedPlan.toString
      assert(!equiPlan.contains("xxhash64") &&
        !equiPlan.contains("__graft_len_band"),
        s"equi-conjunct composite must keep Spark's hash-join plan:\n" +
          equiPlan)
      assert(equi.count() > 0)
      // a nondeterministic column in a child: the rewrite re-executes
      // the children, so uuid()/rand() values would differ between the
      // match set and the padding anti join — the rule must refuse
      val nondet = spark.sql(
        "SELECT l.id FROM (SELECT id, k, rand() AS rr " +
          "FROM graft_levguard_l) l JOIN graft_levguard_r r " +
          "ON levenshtein(l.k, r.k2) <= 2 AND l.rr >= 0.0")
      val ndPlan = nondet.queryExecution.optimizedPlan.toString
      assert(!ndPlan.contains("xxhash64") &&
        !ndPlan.contains("__graft_len_band"),
        s"nondeterministic child must not be re-executed by a rewrite:\n" +
          ndPlan)
      // nondeterministic OPERATOR, not expression: LIMIT without a
      // defining sort selects a task-order-dependent row subset — two
      // executions of the child can return different rows outright
      val lim = spark.sql(
        "SELECT l.id FROM (SELECT * FROM graft_levguard_l LIMIT 400) l " +
          "JOIN graft_levguard_r r ON levenshtein(l.k, r.k2) <= 2 " +
          "AND r.id2 % 3 > 0")
      val limPlan = lim.queryExecution.optimizedPlan.toString
      assert(!limPlan.contains("xxhash64") &&
        !limPlan.contains("__graft_len_band"),
        s"LIMIT child must not be re-executed by a rewrite:\n" + limPlan)
    } finally {
      spark.conf.unset(LevJoinKernelRule.MinSideBytesKey)
    }
  }

  test("LevJoinKernelRule skips the plan cache for catalog-backed " +
      "relations (stale-splice guard)") {
    import graft.catalyst.LevJoinKernelRule
    // The hazard this pins (ADVICE r9's medium finding): canonicalization
    // normalizes away a catalog table's file/stats detail, so a table
    // re-read after an INSERT in the same JVM is canonically EQUAL to its
    // pre-INSERT plan — a cache hit would splice a kernel whose chunked
    // combo tables were baked from the OLD distinct-length set and
    // silently miss every pair involving a newly inserted length.
    val n = 300
    spark.sql("DROP TABLE IF EXISTS graft_cat_l")
    spark.sql("DROP TABLE IF EXISTS graft_cat_r")
    def base = spark.range(n.toLong).select(col("id"),
      concat(lit("doc_"), lpad(col("id").cast("string"), 6, "0")).as("k"))
    base.write.mode("overwrite").saveAsTable("graft_cat_l")
    base.select(col("id").as("id2"), col("k").as("k2"))
      .write.mode("overwrite").saveAsTable("graft_cat_r")
    val sql = "SELECT l.id, r.id2 FROM graft_cat_l l JOIN graft_cat_r r " +
      "ON levenshtein(l.k, r.k2) <= 2"
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set(LevJoinKernelRule.MinSideBytesKey, "1")
    try {
      val first = spark.sql(sql)
      val plan1 = first.queryExecution.optimizedPlan.toString
      assert(plan1.contains("xxhash64"),
        s"catalog-table lev join must still route to the kernel:\n$plan1")
      assert(pairs(first).size > n)
      // the SKIP arm itself: re-optimizing the same SQL must RE-RUN the
      // planning-time jobs (histograms / distinct-length collect) — a
      // zero-job re-optimization would mean the cache was (wrongly) used
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val jl = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(jl)
      try {
        val again = spark.sql(sql)
        assert(again.queryExecution.optimizedPlan.toString
          .contains("xxhash64"))
        // listener delivery is async: poll (a fixed sleep can fail
        // spuriously on a loaded box before the JobStart event lands)
        val deadline = System.currentTimeMillis() + 15000
        while (jobs.get() == 0 && System.currentTimeMillis() < deadline)
          Thread.sleep(100)
        assert(jobs.get() > 0,
          "catalog-backed children must rebuild the kernel every " +
            "optimization, never splice a cached plan")
      } finally spark.sparkContext.removeSparkListener(jl)
      // INSERT rows with a NEW string length (11 chars vs the corpus's
      // 10): a stale spliced kernel would miss every pair touching them
      spark.sql("INSERT INTO graft_cat_r VALUES " +
        "(99991, 'doc_000001x'), (99992, 'doc_000002x')")
      val routed = spark.sql(sql)
      assert(routed.queryExecution.optimizedPlan.toString
        .contains("xxhash64"))
      val got = pairs(routed)
      // new-length matches present: 'doc_000001x' is lev 1 from
      // 'doc_000001'
      assert(got.contains((1L, 99991L)) && got.contains((2L, 99992L)),
        "kernel rebuilt after INSERT must see the new length class")
      spark.conf.set(LevJoinKernelRule.EnabledKey, "false")
      val want = pairs(spark.sql(sql))
      assert(got === want, "post-INSERT kernel results must equal the " +
        s"naive plan: ${got.size} vs ${want.size} pairs")
    } finally {
      spark.conf.unset(LevJoinKernelRule.MinSideBytesKey)
      spark.conf.unset(LevJoinKernelRule.EnabledKey)
      spark.sql("DROP TABLE IF EXISTS graft_cat_l")
      spark.sql("DROP TABLE IF EXISTS graft_cat_r")
    }
  }

  test("LevJoinKernelRule residual-composition property sweep: 24 " +
      "randomized trials == rule-disabled naive results") {
    import graft.catalyst.LevJoinKernelRule
    // Breadth over the newest silent-rewrite surface (VERDICT r10 #4):
    // deterministic 16-combo coverage of (join type × duplicate left rows
    // × overlapping names × null keys) plus 8 re-rolls, with the residual
    // conjuncts, d, and sizes drawn from a seeded RNG. Residual pool
    // spans side-local (each side), cross-side non-equi, and
    // null-producing predicates. Every trial asserts kernel-rewritten
    // results == rule-disabled naive results as MULTISETS (duplicate left
    // rows make row counts semantics, not noise).
    val rnd = new scala.util.Random(20260815)
    val residualPool: Seq[(String, String)] = Seq( // (name, sql)
      "l-local" -> "(L.num % 5) <= 3",
      "r-local" -> "(R.num % 3) > 0",
      "cross-nonequi" -> "(L.num % 7) <= (R.num % 7)",
      "null-producing" -> "nullif(R.num % 4, 0) >= 1",
      "cross-null" -> "L.num <= R.num + nullif(L.num % 5, 2)")
    spark.conf.set(LevJoinKernelRule.MinSideBytesKey, "1")
    try {
      var leftDupPadTrials = 0
      for (trial <- 0 until 24) {
        val leftJoin = trial % 2 == 1
        val dupLeft = (trial / 2) % 2 == 1
        val overlap = (trial / 4) % 2 == 1
        val nullKeys = (trial / 8) % 2 == 1
        val d = 1 + rnd.nextInt(3)
        val n = 150 + rnd.nextInt(100)
        val nResidual = 1 + rnd.nextInt(2)
        val residual = rnd.shuffle(residualPool).take(nResidual)
        val keyExpr = {
          val k = concat(lit("doc_"),
            lpad((col("id") % 97).cast("string"), 5, "0"))
          if (nullKeys) when(col("id") % 17 === 0, lit(null)).otherwise(k)
          else k
        }
        // random column LAYOUT: key/num/id in shuffled order, plus an
        // extra ballast column, names overlapping across sides or not
        def side(prefix: String): org.apache.spark.sql.DataFrame = {
          val cols = rnd.shuffle(Seq(
            col("id").as(s"${prefix}id"),
            keyExpr.as(s"${prefix}k"),
            (col("id") * 3 % 11).as(s"${prefix}num"),
            concat(lit("x"), col("id").cast("string"))
              .as(s"${prefix}extra")))
          spark.range(n.toLong).select(cols: _*)
        }
        val lName = if (overlap) "" else "a_"
        val rName = if (overlap) "" else "b_"
        val baseL = side(lName)
        val l = if (dupLeft)
          baseL.unionAll(baseL.filter(col(s"${lName}id") % 5 === 0))
        else baseL
        l.createOrReplaceTempView(s"graft_sweep_l_$trial")
        side(rName).createOrReplaceTempView(s"graft_sweep_r_$trial")
        // the pool's L./R. placeholders become qualified refs under the
        // trial's naming scheme: "L.num" -> "l.a_num" (or "l.num" when
        // the sides overlap)
        val resSql = residual.map(_._2)
          .map(_.replace("L.", s"l.$lName").replace("R.", s"r.$rName"))
          .mkString(" AND ")
        val jt = if (leftJoin) "LEFT JOIN" else "JOIN"
        val sql = s"SELECT * FROM graft_sweep_l_$trial l $jt " +
          s"graft_sweep_r_$trial r ON levenshtein(l.${lName}k, " +
          s"r.${rName}k) <= $d AND $resSql"
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toSeq.map(String.valueOf).mkString("|"))
            .groupBy(identity).view.mapValues(_.length).toMap
        spark.conf.set(LevJoinKernelRule.EnabledKey, "true")
        val routed = spark.sql(sql)
        val plan = routed.queryExecution.optimizedPlan.toString
        assert(plan.contains("xxhash64") ||
          plan.contains("__graft_len_band"),
          s"trial $trial ($sql) must route to a kernel:\n$plan")
        val got = rows(routed)
        spark.conf.set(LevJoinKernelRule.EnabledKey, "false")
        val want = rows(spark.sql(sql))
        assert(got === want, s"trial $trial diverges (d=$d, n=$n, " +
          s"jt=$jt, dup=$dupLeft, overlap=$overlap, nulls=$nullKeys, " +
          s"residual=${residual.map(_._1).mkString("+")}):\n$sql")
        assert(want.nonEmpty, s"trial $trial degenerate: no rows")
        if (leftJoin && dupLeft) {
          // the full-row-identity padding arm under duplicate left rows:
          // padded duplicates must appear with multiplicity
          val dupPadded = got.exists { case (row, cnt) =>
            cnt >= 2 && row.split("\\|", -1).drop(4).forall(_ == "null") }
          if (dupPadded) leftDupPadTrials += 1
        }
        spark.catalog.dropTempView(s"graft_sweep_l_$trial")
        spark.catalog.dropTempView(s"graft_sweep_r_$trial")
      }
      assert(leftDupPadTrials > 0,
        "sweep never exercised duplicate-left-row padding — fixture or " +
          "schedule drifted")
    } finally {
      spark.conf.unset(LevJoinKernelRule.MinSideBytesKey)
      spark.conf.unset(LevJoinKernelRule.EnabledKey)
    }
  }

  test("LevJoinKernelRule sampled-histogram arm is conf-reachable and " +
      "agrees with the exact chooser") {
    import graft.catalyst.LevJoinKernelRule
    import graft.ops.SimilarityJoin
    // same-length corpus (n != 600 so the plan cannot be canonically equal
    // to the other test's cached kernel): the sampled histogram must stay
    // representative — one hot length survives any sample — and pick
    // chunked exactly like the exact histogram
    val n = 700
    val docs = spark.range(n.toLong).select(col("id"),
      concat(lit("doc_"), lpad(col("id").cast("string"), 6, "0")).as("k"))
    docs.createOrReplaceTempView("graft_levs_l")
    docs.select(col("id").as("id2"), col("k").as("k2"))
      .createOrReplaceTempView("graft_levs_r")
    val exactL = SimilarityJoin.lengthHistogram(docs, "k")
    val sampledL = SimilarityJoin.lengthHistogram(docs, "k", 0.01)
    assert(sampledL.nonEmpty, "1% of 700 rows must sample something")
    assert(SimilarityJoin.chooseChunked(sampledL, sampledL, 2) ===
      SimilarityJoin.chooseChunked(exactL, exactL, 2),
      "sampled and exact histograms must agree on a concentrated corpus")
    val sql = "SELECT l.id, r.id2 FROM graft_levs_l l JOIN graft_levs_r r " +
      "ON levenshtein(l.k, r.k2) <= 2"
    spark.conf.set(LevJoinKernelRule.MinSideBytesKey, "1")
    // ~1 KB threshold: both sides exceed it, so frac() takes the sampled arm
    spark.conf.set(LevJoinKernelRule.HistSampleBytesKey, "1024")
    try {
      val routed = spark.sql(sql)
      val plan = routed.queryExecution.optimizedPlan.toString
      assert(plan.contains("__gci"),
        s"sampled histograms should still choose the chunked kernel:\n$plan")
      val got = routed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.conf.set(LevJoinKernelRule.EnabledKey, "false")
      val want = spark.sql(sql).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want)
      assert(want.size > n)
    } finally {
      spark.conf.unset(LevJoinKernelRule.MinSideBytesKey)
      spark.conf.unset(LevJoinKernelRule.HistSampleBytesKey)
      spark.conf.unset(LevJoinKernelRule.EnabledKey)
    }
  }

  test("native kernels equal their built-in compositions inside " +
      "whole-stage codegen with codegen fallback off") {
    import graft.catalyst.{ClassCountSig, CosineSimilarity, DotProduct,
      SortedIntersectCount, SqDistance}
    import graft.ops.SimilarityJoin
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    import org.apache.spark.sql.graft.GraftSql
    def native2(k: (Expression, Expression) => Expression)(
        a: Column, b: Column): Column =
      GraftSql.column(k(GraftSql.expression(a), GraftSql.expression(b)))
    def hofDot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)
    def hofSqDist(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)
    def hofCosine(a: Column, b: Column): Column = {
      val d = sqrt(hofDot(a, a)) * sqrt(hofDot(b, b))
      when(d === 0, lit(0.0)).otherwise(hofDot(a, b) / d)
    }
    // Rows come from spark.range, not a local relation, so the kernels
    // run on executors inside the generated stage rather than being
    // folded on the driver. Only codegen'd built-ins build the inputs
    // (no lambdas, which would keep the stage out of whole-stage
    // codegen). The vectors cover ragged lengths (every 7th row),
    // all-zero vectors (every 11th) and NULL elements (every 13th).
    val id = col("id")
    def terms(seed: Int, n: Int): Seq[Column] =
      Seq.tabulate(n)(i => (id * seed + i * i) % 40)
    def vec(seed: Int): Column = {
      val full = array(Seq.tabulate(8)(i =>
        ((id * seed + i * 17) % 23 - 11).cast("double") / 3.0): _*)
      when(id % 13 === 0, array(lit(1.0), lit(null).cast("double")))
        .when(id % 11 === 0, array_repeat(lit(0.0), 8))
        .when(id % 7 === 0 && seed == 3, slice(full, 1, 5))
        .otherwise(full)
    }
    // no NULL text: the regexp reference reads NULL as all-saturated
    // (least() skips nulls) where the kernel returns NULL, a known split
    // OpsSpec pins on its own
    val text = concat(expr("repeat('ab', cast(id % 300 as int))"),
      lit("Zé 9 "), expr("substring('the quick brown fox jumps over " +
        "the lazy dog', cast(id % 20 as int), 15)"))
    val data = spark.range(400).select(id, vec(3).as("va"),
      vec(5).as("vb"),
      sort_array(array_distinct(array(terms(7, 21): _*))).as("la"),
      sort_array(array_distinct(array(terms(3, 21): _*))).as("lb"),
      sort_array(array_distinct(
        array(terms(7, 21).map(_.cast("string")): _*))).as("sa"),
      sort_array(array_distinct(
        array(terms(3, 21).map(_.cast("string")): _*))).as("sb"),
      text.as("t"))
    val cases = Seq[(String, Class[_], Column, Column)](
      ("cosine_sim", classOf[CosineSimilarity],
        native2(CosineSimilarity)(col("va"), col("vb")),
        hofCosine(col("va"), col("vb"))),
      ("dot_product", classOf[DotProduct],
        native2(DotProduct)(col("va"), col("vb")),
        hofDot(col("va"), col("vb"))),
      ("sq_dist", classOf[SqDistance],
        native2(SqDistance)(col("va"), col("vb")),
        hofSqDist(col("va"), col("vb"))),
      ("sorted_intersect_count(long)", classOf[SortedIntersectCount],
        native2(SortedIntersectCount)(col("la"), col("lb")),
        size(array_intersect(col("la"), col("lb")))),
      ("sorted_intersect_count(string)", classOf[SortedIntersectCount],
        native2(SortedIntersectCount)(col("sa"), col("sb")),
        size(array_intersect(col("sa"), col("sb")))),
      ("class_count_sig", classOf[ClassCountSig],
        GraftSql.column(ClassCountSig(GraftSql.expression(col("t")))),
        SimilarityJoin.classCountSignatureRegexp(col("t"))))
    // bit equality for doubles (0.0 vs -0.0 and NaN payloads count)
    def same(x: Any, y: Any): Boolean = (x, y) match {
      case (a: Double, b: Double) =>
        java.lang.Double.doubleToRawLongBits(a) ==
          java.lang.Double.doubleToRawLongBits(b)
      case _ => x == y
    }
    val FallbackKey = "spark.sql.codegen.fallback"
    spark.conf.set(FallbackKey, "false")
    try cases.foreach { case (name, kernel, nat, builtin) =>
      // the built-in lambdas cannot join a generated stage, so each side
      // gets its own projection, matched up by row id
      val df = data.select(id, nat.as("v"))
      val got = df.collect().map(r => r.getLong(0) -> r.get(1)).toMap
      val want = data.select(id, builtin.as("v")).collect()
        .map(r => r.getLong(0) -> r.get(1)).toMap
      val inCodegen = df.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec => w.child.collect {
          case p: ProjectExec => p.projectList
        }.flatten
      }.flatten
      assert(inCodegen.exists(_.exists(kernel.isInstance)),
        s"$name must evaluate inside whole-stage codegen:\n" +
          df.queryExecution.executedPlan)
      assert(got.size === 400 && want.keySet === got.keySet)
      got.foreach { case (i, v) => assert(same(v, want(i)),
        s"$name row $i: native $v != built-in ${want(i)}") }
      assert(got.values.toSeq.distinct.length > 3,
        s"$name: the fixture must exercise more than a few values")
    } finally spark.conf.unset(FallbackKey)
  }
}
