package graft

import graft.ops._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("RowId assigns dense 1-based ids in sort order") {
    val df = Seq("c", "a", "b").toDF("v")
    val out = RowId.withRowId1(df, "row_id", Seq(col("v"))).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("a", 1L), ("b", 2L), ("c", 3L)))
  }

  test("SimilarityJoin left join keeps unmatched lefts with null distance") {
    val l = Seq("kitten", "zzzzzzzzzzzz").toDF("a")
    val r = Seq("sitting", "mitten").toDF("b")
    val out = SimilarityJoin.leftJoin(l, r, "a", "b", 3)
      .select("a", "b", "string_distance").collect()
    val kitten = out.filter(_.getString(0) == "kitten")
      .map(x => (x.getString(1), x.getInt(2))).sortBy(_._1)
    assert(kitten === Seq(("mitten", 1), ("sitting", 3)))
    val zzz = out.filter(_.getString(0) == "zzzzzzzzzzzz")
    assert(zzz.length === 1 && zzz(0).isNullAt(1) && zzz(0).isNullAt(2))
    // r12: an input already carrying distCol must be refused — withColumn
    // would silently REPLACE the user's column (autoLeftJoin/
    // viaDistinctKeys always guarded this; the three kernels were the gap)
    val lDist = Seq(("kitten", 99)).toDF("a", "string_distance")
    for (k <- Seq[(DataFrame, DataFrame) => DataFrame](
        (x, y) => SimilarityJoin.leftJoin(x, y, "a", "b", 3),
        (x, y) => SimilarityJoin.blockedInnerJoin(x, y, "a", "b", 3),
        (x, y) => SimilarityJoin.chunkedInnerJoin(x, y, "a", "b", 3))) {
      val e = intercept[IllegalArgumentException] { k(lDist, r) }
      assert(e.getMessage.contains("string_distance"))
    }
  }

  test("classCountSignature expression bound is sound vs Spark's own " +
      "levenshtein (mixed alphabet, r17 prefilter)") {
    // the PropertySpec replica proves the MATH; this pins the Spark
    // EXPRESSION (regex classes + packing + sigDistance arithmetic):
    // any pair within lev <= d must satisfy sigDistance <= 2d, or the
    // kernels' prefilter would silently drop true matches
    val rnd = new scala.util.Random(23)
    def randStr() = (0 until (2 + rnd.nextInt(12)))
      .map(_ => "abcdefghijklmnopqrstuvwxyz XYZ019{".charAt(rnd.nextInt(34)))
      .mkString
    val pairs = Seq.fill(400)((randStr(), randStr())).toDF("a", "b")
    val bad = pairs
      .withColumn("lev", levenshtein(col("a"), col("b")))
      .withColumn("sd", SimilarityJoin.sigDistance(
        SimilarityJoin.classCountSignature(col("a")),
        SimilarityJoin.classCountSignature(col("b"))))
      .filter(col("sd") > col("lev") * 2)
      .collect()
    assert(bad.isEmpty,
      s"signature bound violated: ${bad.take(3).mkString("; ")}")
  }

  test("native class_count_sig == the 8-regexp composition " +
      "(unicode, saturation, nulls — r18 kernel swap)") {
    // the native one-pass expression replaced the regexp form in the
    // kernels; value-identity on arbitrary strings is what carries every
    // soundness argument (and the PropertySpec math pin) over unchanged
    val rnd = new scala.util.Random(41)
    val alphabet = "abcdefghijklmnopqrstuvwxyz XYZ019{éλ好😀"
    def randStr() = {
      // sample by CODE POINT so surrogate pairs stay intact
      val cps = alphabet.codePoints().toArray
      new String((0 until rnd.nextInt(40))
        .flatMap(_ => Character.toChars(cps(rnd.nextInt(cps.length))))
        .toArray)
    }
    val rows = Seq.fill(300)(randStr()) ++
      Seq("", "a" * 300, "{" * 300) // empty + saturation of both classes
    val out = rows.toDF("s")
      .select(
        SimilarityJoin.classCountSignature(col("s")).as("native"),
        SimilarityJoin.classCountSignatureRegexp(col("s")).as("regexp"))
      .collect()
    out.foreach { r =>
      assert(!r.isNullAt(0) && !r.isNullAt(1))
      assert(r.getLong(0) === r.getLong(1))
    }
    // NULL input: the native form is properly NULL; the regexp form
    // returned -1 (least() SKIPS nulls, so each class read 255). The
    // difference is unobservable in the kernels — a null key never
    // survives the band/equi-join to reach the signature conjunct, and
    // null <= 2d and huge <= 2d both reject — but pin both behaviors so
    // a change is loud.
    val nullRow = Seq(Option.empty[String]).toDF("s")
      .select(
        SimilarityJoin.classCountSignature(col("s")).as("native"),
        SimilarityJoin.classCountSignatureRegexp(col("s")).as("regexp"))
      .collect()(0)
    assert(nullRow.isNullAt(0) && nullRow.getLong(1) === -1L)
  }

  test("blocked similarity join == naive on random strings (soundness)") {
    val rnd = new scala.util.Random(7)
    def randStr() = (0 until (3 + rnd.nextInt(8)))
      .map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    val left = Seq.fill(60)(randStr()).distinct.toDF("a")
    val right = Seq.fill(60)(randStr()).distinct.toDF("b")
    val naive = left.join(right, levenshtein(col("a"), col("b")) <= 2)
      .select("a", "b").collect().map(r => (r.getString(0), r.getString(1)))
      .toSet
    val blocked = SimilarityJoin.blockedInnerJoin(left, right, "a", "b", 2)
      .select("a", "b").collect().map(r => (r.getString(0), r.getString(1)))
      .toSet
    assert(blocked === naive)
  }

  test("chunked (PassJoin-family) similarity join == naive on random strings") {
    val rnd = new scala.util.Random(11)
    def randStr(min: Int, max: Int) =
      (0 until (min + rnd.nextInt(max - min + 1)))
        .map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    // d sweeps past the registry's production values (2 and 4) so the
    // shift-bound pruning (|delta| + |lenDiff - delta| <= d) is exercised
    // at every chunk count the kernel actually runs with
    for ((d, trial) <- Seq(1, 2, 3, 4).zipWithIndex) {
      val left = Seq.fill(50)(randStr(trial, 10 + d)).distinct.toDF("a")
      val right = Seq.fill(50)(randStr(trial, 10 + d)).distinct.toDF("b")
      val naive = left.join(right, levenshtein(col("a"), col("b")) <= d)
        .select("a", "b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val chunked = SimilarityJoin.chunkedInnerJoin(left, right, "a", "b", d)
        .select("a", "b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(chunked === naive, s"d=$d")
    }
  }

  test("kernel cost model: estimates are exact on hand-computed histograms") {
    // two lengths 2 apart, d=2: every (la, lb) combination is in band
    val hl = Map(10 -> 3L, 12 -> 2L)
    val hr = Map(10 -> 4L, 12 -> 1L)
    // pairs = 3*(4+1) + 2*(4+1) = 25
    assert(SimilarityJoin.estimateBlockedPairs(hl, hr, 2) === BigInt(25))
    // substrings: every right row sees both left lengths in band (>= d+1),
    // (d+1)^2 = 9 combos each → (4+1)*2*9 = 90
    assert(SimilarityJoin.estimateChunkedSubstrings(hl, hr, 2) === BigInt(90))
    // all-same-length degenerate case: pairs is exactly n^2
    val same = Map(100 -> 1000L)
    assert(SimilarityJoin.estimateBlockedPairs(same, same, 4) ===
      BigInt(1000) * 1000)
  }

  test("kernel chooser: uniform length spread -> blocked, concentration -> chunked") {
    // spread corpus: 5000 rows over 2500 distinct lengths (the r6 shape) —
    // band candidates stay near-linear, blocked's verify bill is small
    val spreadHist = (100 until 2600).map(_ -> 2L).toMap
    assert(!SimilarityJoin.chooseChunked(spreadHist, spreadHist, 4))
    // concentrated corpus: the same 5000 rows on ONE length (the band
    // bucket's worst case) — candidates are n^2, chunked must win
    val sameHist = Map(300 -> 5000L)
    assert(SimilarityJoin.chooseChunked(sameHist, sameHist, 4))
  }

  test("autoInnerJoin == naive in both chooser regimes") {
    val rnd = new scala.util.Random(23)
    def randStr(len: Int) =
      (0 until len).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    for (skewed <- Seq(true, false)) {
      // skewed: every string length 12 (chunked regime); spread: lengths
      // 8..40 (blocked regime) — the result must be the naive theta join
      // either way, proving the choice affects cost only, never output
      val strs =
        if (skewed) Seq.fill(60)(randStr(12)).distinct
        else (0 until 60).map(i => randStr(8 + (i % 33))).distinct
      val left = strs.toDF("a")
      val right = strs.map(s => s.reverse).toDF("b")
      val naive = left.join(right, levenshtein(col("a"), col("b")) <= 3)
        .select("a", "b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val auto = SimilarityJoin.autoInnerJoin(left, right, "a", "b", 3)
        .select("a", "b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(auto === naive, s"skewed=$skewed")
    }
  }

  test("blocked LEFT join keeps unmatched lefts") {
    val l = Seq("abc", "qqqqqqqqqq").toDF("a")
    val r = Seq("abd").toDF("b")
    val out = SimilarityJoin.blockedLeftJoin(l, r, "a", "b", 1).collect()
    assert(out.length === 2)
    val unmatched = out.filter(_.getString(0) == "qqqqqqqqqq")
    assert(unmatched.length === 1 && unmatched(0).isNullAt(1))
  }

  test("autoLeftJoin == leftJoin on random strings, incl. null keys") {
    val rnd = new scala.util.Random(7)
    def randStr(n: Int) =
      (0 until n).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    val strs = (0 until 50).map(i => randStr(6 + (i % 7))).distinct
    val l = (strs.map(Option(_)) :+ None).toDF("a")
    val r = strs.map(s => Option(s.reverse)).toDF("b")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").collect()
        .map(x => (Option(x.getString(0)), Option(x.getString(1)))).toSet
    val want = rows(SimilarityJoin.leftJoin(l, r, "a", "b", 2))
    val auto = rows(SimilarityJoin.autoLeftJoin(l, r, "a", "b", 2))
    assert(auto === want)
    // the null left key survives as an unmatched padded row
    assert(auto.contains((None, None)))
  }

  test("leftJoin equals a naive cross join filtered by levenshtein <= d") {
    // null keys, multi-byte code points (a surrogate pair too), duplicate
    // left values, and runs longer than 255 of one character class, which
    // saturate the prefilter's signature fields
    val rnd = new scala.util.Random(29)
    val alphabet = Seq("a", "b", "e", "q", "z", " ", "Q", "7", "é", "中", "😀")
    def randStr() = Seq.fill(rnd.nextInt(11))(
      alphabet(rnd.nextInt(alphabet.size))).mkString
    val runs = Seq("a" * 300, "a" * 298 + "bb", "a" * 256, "b" * 257,
      "e" * 260 + "a" * 3, "e" * 258 + "aq", "中" * 270, "中" * 268 + "😀")
    val ls: Seq[Option[String]] =
      (Seq.fill(80)(randStr()) ++ runs ++ Seq("ab", "ab")).map(Option(_)) ++
        Seq(None, None)
    val rs: Seq[Option[String]] =
      (Seq.fill(80)(randStr()) ++ runs.map(_.drop(1))).map(Option(_)) :+ None
    val l = ls.zipWithIndex.map { case (s, i) => (i, s) }.toDF("lid", "a")
    val r = rs.toDF("b")
    for (d <- Seq(0, 1, 3)) {
      val got = SimilarityJoin.leftJoin(l, r, "a", "b", d)
        .select("lid", "b", "string_distance").collect()
        .map(x => (x.getInt(0), Option(x.getString(1)),
          Option(x.get(2)).map(_.asInstanceOf[Int]))).toSeq.sorted
      val pairs = l.crossJoin(r)
        .withColumn("dist", levenshtein(col("a"), col("b")))
        .filter(col("dist") <= d)
        .select("lid", "b", "dist").collect()
        .map(x => (x.getInt(0), Option(x.getString(1)), Option(x.getInt(2))))
      val matched = pairs.map(_._1).toSet
      val padded = ls.indices.filterNot(matched).map((_, None, None))
      assert(got === (pairs.toSeq ++ padded).sorted, s"d = $d")
      assert(pairs.nonEmpty && padded.nonEmpty)
    }
    // like blockedInnerJoin, inputs may not carry the working columns
    for (c <- Seq("__graft_len_band", "__graft_sig_l", "__graft_sig_r")) {
      val e1 = intercept[IllegalArgumentException] {
        SimilarityJoin.leftJoin(l.withColumn(c, lit(1)), r, "a", "b", 2)
      }
      val e2 = intercept[IllegalArgumentException] {
        SimilarityJoin.leftJoin(l, r.withColumn(c, lit(1)), "a", "b", 2)
      }
      assert(e1.getMessage.contains(c) && e2.getMessage.contains(c))
    }
  }

  test("autoLeftJoin aliases overlapping names internally and restores them") {
    val rnd = new scala.util.Random(11)
    def randStr(n: Int) =
      (0 until n).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    val strs = (0 until 40).map(i => randStr(6 + (i % 7))).distinct
    val l = (strs.map(Option(_)) :+ None).toDF("a")
    // right side: key 'a2' plus a column named 'a' — overlapping the left
    val r = strs.map(s => (s.reverse, s)).toDF("a2", "a")
    val overlap = SimilarityJoin.autoLeftJoin(l, r, "a", "a2", 2)
    // original names restored: left's 'a' first, right's 'a' after its key
    assert(overlap.columns.toSeq === Seq("a", "a2", "a", "string_distance"))
    // parity with the disjoint-name path on a manually renamed right,
    // compared positionally (duplicate names resolve only by position)
    val want = SimilarityJoin.autoLeftJoin(l, r.toDF("a2", "a_r"), "a", "a2", 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(rows(overlap) === rows(want))
    assert(overlap.count() > strs.size / 2)
    // a distCol collision cannot be restored positionally — refused loudly
    val e = intercept[IllegalArgumentException] {
      SimilarityJoin.autoLeftJoin(l, r, "a", "a2", 1, distCol = "a")
    }
    assert(e.getMessage.contains("distCol"))
  }

  test("autoLeftJoin overlap sweep: random schemas, any overlap position") {
    // the single-shape test above pins one overlap layout; sweep the
    // space: payload columns on both sides whose names overlap in
    // random positions, INCLUDING the case where the right KEY's name
    // collides with a left payload column. Reference = the disjoint
    // path on a manually renamed right, compared positionally.
    val rnd = new scala.util.Random(23)
    def randStr(n: Int) =
      (0 until n).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    val strs = (0 until 25).map(i => randStr(5 + (i % 5))).distinct
    (1 to 6).foreach { trial =>
      val overlapKey = trial % 2 == 0
      // left: key 'k' + payloads p1, p2; right: key (maybe named p1!) +
      // payloads drawn to overlap a random subset of the left's names
      val rKeyName = if (overlapKey) "p1" else "rk"
      // two payload names drawn from a pool that overlaps the left's
      // names — keeping the right's OWN names unique (the operator's
      // documented requirement; within-side duplicates are refused)
      val rPayloads = rnd.shuffle(Seq("p1", "p2", "q1", "q2"))
        .filterNot(_ == rKeyName).take(2)
      val l = strs.map(s => (s, s.length.toLong, s.reverse))
        .toDF("k", "p1", "p2")
      val rCols = rKeyName +: rPayloads
      val r = strs.map(s => (s, s.toUpperCase, s.length.toString))
        .toDF(rCols: _*)
      val got = SimilarityJoin.autoLeftJoin(l, r, "k", rKeyName, 2)
      assert(got.columns.toSeq ===
        (l.columns.toSeq ++ r.columns :+ "string_distance"),
        s"trial $trial: names must restore positionally")
      val renamed = r.toDF(rCols.map(c => s"__ref_$c"): _*)
      val want = SimilarityJoin.autoLeftJoin(l, renamed, "k",
        s"__ref_$rKeyName", 2)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      assert(rows(got) === rows(want), s"trial $trial diverged")
      assert(got.count() >= strs.size, s"trial $trial: every left row pads")
    }
  }

  test("BestMatch topOne is deterministic under ties") {
    val df = Seq((1, "b", 5), (1, "a", 5), (2, "c", 1)).toDF("k", "v", "d")
    val out = BestMatch.topOnePerKey(df, Seq(col("k")),
      Seq(col("d"), col("v"))).orderBy("k").collect()
    assert(out.map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((1, "a"), (2, "c")))
  }

  test("BestMatch argMinPerKey matches window top-1") {
    val df = Seq((1, "x", 3), (1, "y", 1), (2, "z", 9), (2, "w", 9))
      .toDF("k", "v", "d")
    val win = BestMatch.topOnePerKey(df, Seq(col("k")),
        Seq(col("d"), col("v"))).select("k", "v", "d")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    val agg = BestMatch.argMinPerKey(df, Seq("k"),
        struct(col("d"), col("v")), Seq("v", "d"))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(win === agg)
  }

  test("CoalesceJoin: schema law + left wins + right fills nulls") {
    val left = Seq((1, Some("L"), "only_l"), (2, None, "only_l2"))
      .toDF("k", "shared", "lcol")
    val right = Seq((1, "R1", 10), (2, "R2", 20), (3, "R3", 30))
      .toDF("k", "shared", "rcol")
    val out = CoalesceJoin.coalesceLeftJoin(left, right, "k", "k")
    // output schema = union(left, right) in first-seen order
    assert(out.columns.toSeq === Seq("k", "shared", "lcol", "rcol"))
    val rows = out.orderBy("k").collect()
    assert(rows.map(_.getString(1)).toSeq === Seq("L", "R2")) // left wins, right fills
    assert(rows.map(_.getInt(3)).toSeq === Seq(10, 20))
    assert(rows.length === 2) // left join: row 3 absent
  }

  test("AntiJoin matches NULL keys like dplyr na_matches='na'") {
    val left = Seq(Some("a"), Some("b"), None).toDF("k")
    val right = Seq(Some("a"), None).toDF("k")
    // null-safe: left NULL row matches right NULL row -> excluded
    val ns = AntiJoin.antiJoin(left, right, "k").collect().map(_.getString(0))
    assert(ns.toSeq === Seq("b"))
    // plain SQL semantics: NULL never matches -> NULL row kept
    val plain = AntiJoin.antiJoin(left, right, "k", "k", naMatches = false)
      .collect().map(r => Option(r.getString(0))).toSet
    assert(plain === Set(Some("b"), None))
  }

  test("AsOfJoin carries the matched row atomically, nulls included") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // the matched (latest) right row has a NULL in column a — that null
    // must come through, not be papered over by the older row's a=5
    val left = Seq((1L, 10L, ts("2024-01-05 00:00:00")))
      .toDF("eid", "k", "t")
    val right = Seq(
      (10L, ts("2024-01-01 00:00:00"), Some(5L), None: Option[Long]),
      (10L, ts("2024-01-03 00:00:00"), None: Option[Long], Some(7L))
    ).toDF("rk", "rt", "a", "b")
    val out = ops.AsOfJoin.asofLeftJoin(left, right, "k", "rk", "t", "rt",
      Seq("a", "b")).collect()(0)
    assert(out.isNullAt(3) && out.getLong(4) === 7L,
      "per-column carry would resurrect a=5 from the stale row")
    // same atomicity under tolerance: the stale row is out of tolerance,
    // the matched row in — no mixing
    val tol = ops.AsOfJoin.asofLeftJoin(left, right, "k", "rk", "t", "rt",
      Seq("a", "b"), toleranceSeconds = Some(3L * 86400)).collect()(0)
    assert(tol.isNullAt(3) && tol.getLong(4) === 7L)
  }

  test("AsOfJoin picks the latest right row at-or-before each left ts") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq(
      (1L, 10L, ts("2024-01-05 00:00:00")),
      (2L, 10L, ts("2024-01-01 00:00:00")), // exactly at a right ts
      (3L, 10L, ts("2023-12-01 00:00:00")), // before all right rows
      (4L, 99L, ts("2024-01-05 00:00:00"))  // key with no right rows
    ).toDF("eid", "k", "t")
    val right = Seq(
      (10L, ts("2024-01-01 00:00:00"), "a"),
      (10L, ts("2024-01-03 00:00:00"), "b"),
      (10L, ts("2024-02-01 00:00:00"), "c")
    ).toDF("rk", "rt", "v")
    val out = ops.AsOfJoin.asofLeftJoin(left, right, "k", "rk", "t", "rt",
        Seq("v")).orderBy("eid").collect()
    assert(out.map(r => Option(r.getString(3))).toSeq ===
      Seq(Some("b"), Some("a"), None, None))
    // forward direction: earliest right row at-or-after each left ts
    val fwd = ops.AsOfJoin.asofLeftJoin(left, right, "k", "rk", "t", "rt",
        Seq("v"), direction = "forward").orderBy("eid").collect()
    assert(fwd.map(r => Option(r.getString(3))).toSeq ===
      Seq(Some("c"), Some("a"), Some("a"), None))
    // a NULL right timestamp matches nothing (ASOF semantics) — its payload
    // must not be carried into early left rows
    val rightWithNull = right.union(Seq((10L, null.asInstanceOf[Timestamp],
      "poison")).toDF("rk", "rt", "v"))
    val guarded = ops.AsOfJoin.asofLeftJoin(left, rightWithNull,
        "k", "rk", "t", "rt", Seq("v")).orderBy("eid").collect()
    assert(guarded.map(r => Option(r.getString(3))).toSeq ===
      Seq(Some("b"), Some("a"), None, None))
    // tolerance: eid=1 matched "b" 2 days back — a 1-day tolerance nulls
    // it, a 3-day tolerance keeps it; exact-ts matches always survive
    val tight = ops.AsOfJoin.asofLeftJoin(left, right, "k", "rk", "t", "rt",
        Seq("v"), toleranceSeconds = Some(86400L)).orderBy("eid").collect()
    assert(tight.map(r => Option(r.getString(3))).toSeq ===
      Seq(None, Some("a"), None, None))
    val loose = ops.AsOfJoin.asofLeftJoin(left, right, "k", "rk", "t", "rt",
        Seq("v"), toleranceSeconds = Some(3L * 86400)).orderBy("eid").collect()
    assert(loose.map(r => Option(r.getString(3))).toSeq ===
      Seq(Some("b"), Some("a"), None, None))
    // forward + tolerance
    val fwdTol = ops.AsOfJoin.asofLeftJoin(left, right, "k", "rk", "t", "rt",
        Seq("v"), direction = "forward", toleranceSeconds = Some(86400L))
      .orderBy("eid").collect()
    assert(fwdTol.map(r => Option(r.getString(3))).toSeq ===
      Seq(None, Some("a"), None, None))
    // r12: a NULL LEFT timestamp matches nothing in EITHER direction.
    // Backward got this right by sort-order accident; forward's
    // [current..following) frame from a NULLs-first row saw every right
    // row and carried the earliest payload into a row ASOF semantics
    // says must stay null-padded.
    val leftNullTs = Seq((5L, 10L, null.asInstanceOf[Timestamp]))
      .toDF("eid", "k", "t")
    for (dir <- Seq("backward", "forward")) {
      val r = ops.AsOfJoin.asofLeftJoin(leftNullTs, right,
        "k", "rk", "t", "rt", Seq("v"), direction = dir).collect()(0)
      assert(r.isNullAt(3), s"NULL left ts must stay unmatched ($dir)")
    }
    // r12: NULL keys never match NULL keys (window partitioning grouped
    // them; SQL equality matches nothing) — in either direction
    val leftNullKey = Seq((6L, null.asInstanceOf[java.lang.Long],
      ts("2024-01-05 00:00:00"))).toDF("eid", "k", "t")
    val rightNullKey = Seq((null.asInstanceOf[java.lang.Long],
      ts("2024-01-01 00:00:00"), "nk")).toDF("rk", "rt", "v")
    for (dir <- Seq("backward", "forward")) {
      val r = ops.AsOfJoin.asofLeftJoin(leftNullKey, rightNullKey,
        "k", "rk", "t", "rt", Seq("v"), direction = dir).collect()(0)
      assert(r.isNullAt(3), s"NULL keys must never match ($dir)")
    }
  }

  test("AsOfJoin refuses reserved __graft_ input names (r13)") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // an input column literally named __graft_ts used to be silently
    // overwritten by the internal withColumn and returned corrupted
    val left = Seq((1L, 10L, ts("2024-01-05 00:00:00"), "mine"))
      .toDF("eid", "k", "t", "__graft_ts")
    val right = Seq((10L, ts("2024-01-01 00:00:00"), "a"))
      .toDF("rk", "rt", "v")
    val e = intercept[IllegalArgumentException] {
      ops.AsOfJoin.asofLeftJoin(left, right, "k", "rk", "t", "rt", Seq("v"))
    }
    assert(e.getMessage.contains("__graft_"))
  }

  test("scd2Lookup deconflicts attr/valid_from against fact columns (r13)") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val dim = Seq((10L, "gold", ts("2024-01-01 00:00:00"),
        null.asInstanceOf[Timestamp]))
      .toDF("k", "attr", "valid_from", "valid_to")
    val facts = Seq((1L, 10L, ts("2024-01-05 00:00:00"), "factattr"))
      .toDF("eid", "k", "t", "attr") // fact carries its OWN attr
    val out = ops.TimeSeries.scd2Lookup(facts, dim, "k", "t")
    // re-looking-up a previous lookup's output used to emit duplicate
    // column names and fail the next select with AMBIGUOUS_REFERENCE
    assert(out.columns.count(_ == "attr") === 1)
    assert(out.columns.contains("attr_right"))
    val row = out.collect()(0)
    assert(row.getString(out.columns.indexOf("attr")) === "factattr",
      "the fact's own column must survive untouched")
    assert(row.getString(out.columns.indexOf("attr_right")) === "gold")
  }

  test("AsOfJoin auto-renames a payload column that collides with the left") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // left ALREADY has a column named "v" — the payload must come out as
    // v_right and the left v must survive untouched
    val left = Seq(
      (1L, 10L, ts("2024-01-05 00:00:00"), "keepme"),
      (2L, 99L, ts("2024-01-05 00:00:00"), "lonely")
    ).toDF("eid", "k", "t", "v")
    val right = Seq(
      (10L, ts("2024-01-01 00:00:00"), "a"),
      (10L, ts("2024-01-03 00:00:00"), "b")
    ).toDF("rk", "rt", "v")
    val out = ops.AsOfJoin.asofLeftJoin(left, right, "k", "rk", "t", "rt",
        Seq("v")).orderBy("eid")
    assert(out.columns.toSeq === Seq("eid", "k", "t", "v", "v_right"))
    val rows = out.collect()
    assert(rows.map(_.getString(3)).toSeq === Seq("keepme", "lonely"))
    assert(rows.map(r => Option(r.getString(4))).toSeq ===
      Seq(Some("b"), None))
  }

  test("dedupKeys kernels equal the direct kernels on repeated keys") {
    val rnd = new scala.util.Random(11)
    def randStr() = (0 until (2 + rnd.nextInt(6)))
      .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    // heavy key repetition (+ a null) — the case dedupKeys exists for
    val lVals = Seq.fill(80)(randStr()) :+ null
    val rVals = Seq.fill(80)(randStr()) :+ null
    val l = lVals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("lid", "a")
    val r = rVals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("rid", "b")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("lid", "rid", "d").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    val blockedPlain = rows(
      ops.SimilarityJoin.blockedInnerJoin(l, r, "a", "b", 2, "d"))
    val blockedDedup = rows(
      ops.SimilarityJoin.blockedInnerJoin(l, r, "a", "b", 2, "d",
        dedupKeys = true))
    assert(blockedDedup === blockedPlain)
    assert(blockedPlain.nonEmpty)
    val chunkedPlain = rows(
      ops.SimilarityJoin.chunkedInnerJoin(l, r, "a", "b", 2, "d"))
    val chunkedDedup = rows(
      ops.SimilarityJoin.chunkedInnerJoin(l, r, "a", "b", 2, "d",
        dedupKeys = true))
    assert(chunkedDedup === chunkedPlain)
  }

  test("chunkedInnerJoin tolerates NULL keys (no pairs, no crash)") {
    val l = Seq(Some("kitten"), None, Some("apple")).toDF("a")
    val r = Seq("mitten", "apples").toDF("b")
    val out = ops.SimilarityJoin.chunkedInnerJoin(l, r, "a", "b", 2, "d")
      .select("a", "b").collect().map(x => (x.getString(0), x.getString(1)))
      .toSet
    assert(out === Set(("kitten", "mitten"), ("apple", "apples")))
  }

  test("Expectations: one-pass report, failing checks flagged") {
    import graft.quality.Expectations._
    val df = Seq((1L, Some(10.0)), (2L, Some(20.0)), (3L, None),
      (3L, Some(40.0))).toDF("id", "v")
    val report = check(df, Seq(
      Expectation("id_unique", Uniqueness("id"), 1.0, 1.0),      // fails: dup 3
      Expectation("v_complete", Completeness("v"), 1.0, 1.0),    // fails: null
      Expectation("v_mean", MeanOf("v"), 20.0, 30.0)))           // passes
      .collect().map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(report === Map("id_unique" -> false, "v_complete" -> false,
      "v_mean" -> true))
  }

  test("schemaDrift reports missing, added, and retyped columns") {
    import graft.quality.Expectations.{schemaDrift, SchemaDiff}
    val expected = Seq((1L, "a", 1.0)).toDF("id", "name", "score").schema
    val actual = Seq((1L, 2, true)).toDF("id", "score", "extra").schema
    val diffs = schemaDrift(expected, actual)
    assert(diffs === Seq(
      SchemaDiff("name", "missing", "STRING", ""),
      SchemaDiff("extra", "added", "", "BOOLEAN"),
      SchemaDiff("score", "retyped", "DOUBLE", "INT")))
    assert(schemaDrift(expected, expected).isEmpty)
  }

  test("OnlineStats aggregator matches built-in avg/var_pop per group") {
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
    val udafStats = org.apache.spark.sql.functions.udaf(ops.OnlineStats)
    val mine = events.groupBy(col("event_type"))
      .agg(udafStats(col("value")).as("s"))
      .select(col("event_type"), col("s.n"), col("s.mean"), col("s.variance"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val builtin = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("m"),
        var_pop(col("value")).as("v"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(mine.keySet === builtin.keySet)
    mine.foreach { case (k, (n, m, v)) =>
      val (bn, bm, bv) = builtin(k)
      assert(n === bn)
      assert(math.abs(m - bm) <= 1e-9 * math.max(math.abs(bm), 1.0))
      assert(math.abs(v - bv) <= 1e-9 * math.max(math.abs(bv), 1.0))
    }
  }

  test("RangeJoin binning equals the naive inequality join") {
    import java.sql.Timestamp
    val rnd = new scala.util.Random(5)
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = (1 to 300).map { i =>
      (i.toLong, (i % 7).toLong,
        new Timestamp(base + rnd.nextInt(3600) * 1000L))
    }
    val df = rows.toDF("id", "k", "t")
    val banded = ops.RangeJoin
      .timeProximitySelfJoin(df, "k", "t", "id", 120L)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = rows.flatMap { case (ia, ka, ta) =>
      rows.collect { case (ib, kb, tb)
        if ka == kb && ia < ib &&
          math.abs(ta.getTime - tb.getTime) <= 120000L => (ia, ib) }
    }.toSet
    assert(banded === naive)
    assert(naive.nonEmpty)
  }

  test("Recency digit keys and newest-first ordering") {
    assert(Recency.digitKey("SurveyAdminTerm25-2") === 252L)
    assert(Recency.digitKey("SurveyAdminYear2023") === 2023L)
    // reference semantics (varinfo-update.R:166-170): key is the plain
    // integer of concatenated digits, so 2021 outranks 252 ("25-2")
    assert(Recency.sortedNewestFirst(
      Seq("SurveyAdminYear2021", "SurveyAdminYear2023", "SurveyAdminTerm25-2"))
      === Seq("SurveyAdminYear2023", "SurveyAdminYear2021",
        "SurveyAdminTerm25-2"))
  }

  test("Recency most_recent picks min-rank value across columns") {
    // value strays across columns: newest column holds an OLD value — the
    // arg-min over ranks must still win (not a naive first-non-null).
    val rank = Seq("2025" -> 1, "2023" -> 2, "2021" -> 3)
    val df = Seq(
      ("r1", "2021", "2023"), // newest col has old value; 2023 has lower rank
      ("r2", "", "2021"),     // "" treated as missing
      ("r3", "xxxx", "yyyy")  // nothing rankable -> null
    ).toDF("id", "SurveyAdminA", "SurveyAdminB")
    val out = df.withColumn("mr",
        Recency.mostRecentCol(Seq("SurveyAdminA", "SurveyAdminB"), rank))
      .orderBy("id").collect()
    assert(Option(out(0).getString(3)) === Some("2023"))
    assert(Option(out(1).getString(3)) === Some("2021"))
    assert(out(2).isNullAt(3))
  }

  test("Recency sortVarinfo: admin/metadata first, NULLS LAST, stable") {
    val df = Seq(
      ("v1", "question", "2021"),
      ("v2", "metadata", "2025"),
      ("v3", "question", "2025"),
      ("v4", "question", ""),   // no recency value -> NULL priority -> last
      ("v5", "administrative", "")
    ).toDF("ITEM_NAME", "ITEM_TYPE", "SurveyAdminYear2025")
      .withColumn("SurveyAdminYear2021",
        when(col("SurveyAdminYear2025") === "2021", "x"))
    // single admin column with >1 distinct value (2021,2025) -> first by row
    val out = Recency.sortVarinfo(df).select("ITEM_NAME").collect()
      .map(_.getString(0))
    // v2/v5 admin/meta first (stable: v2 then v5), then ranked, then NULLs
    assert(out.take(2).toSeq === Seq("v2", "v5"))
    assert(out.last === "v4" || out.takeRight(2).contains("v4"))
  }

  test("Dashboard filter keeps NULL ITEM_TYPE, drops CONSENT") {
    val df = Seq(
      (Some("question"), "q1"),
      (Some("administrative"), "q2"),
      (None: Option[String], "q3"),
      (Some("question"), "CONSENT")
    ).toDF("ITEM_TYPE", "ITEM_NAME")
    val out = Dashboard.dashboard(df).collect().map(_.getString(0)).toSet
    assert(out === Set("q1", "q3"))
  }

  test("Dashboard selectAnyOf skips absent columns silently") {
    val df = Seq((1, "a")).toDF("x", "y")
    assert(Dashboard.selectAnyOf(df, Seq("y", "missing", "x"))
      .columns.toSeq === Seq("y", "x"))
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("Funnel stages must occur strictly in order") {
    val events = Seq(
      // u1 completes signup -> view -> buy in order
      (1L, "signup", ts("2024-01-01 10:00:00"), 1L),
      (1L, "view",   ts("2024-01-01 10:05:00"), 2L),
      (1L, "buy",    ts("2024-01-01 10:10:00"), 3L),
      // u2's view happened BEFORE signup: stalls at signup
      (2L, "view",   ts("2024-01-01 09:00:00"), 4L),
      (2L, "signup", ts("2024-01-01 09:30:00"), 5L),
      (2L, "buy",    ts("2024-01-01 09:45:00"), 6L),
      // u3 never signs up: contributes to no stage
      (3L, "view",   ts("2024-01-01 08:00:00"), 7L)
    ).toDF("user_id", "event_type", "ts", "event_id")
    val out = Funnel.funnel(events, "user_id", "event_type", "ts",
        "event_id", Seq("signup", "view", "buy"))
      .orderBy("stage_idx").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq((0, "signup", 2L), (1, "view", 1L),
      (2, "buy", 1L)))
  }

  test("Funnel emits zero-user tail stages") {
    val events = Seq((1L, "signup", ts("2024-01-01 10:00:00"), 1L))
      .toDF("user_id", "event_type", "ts", "event_id")
    val out = Funnel.funnel(events, "user_id", "event_type", "ts",
        "event_id", Seq("signup", "view")).orderBy("stage_idx").collect()
    assert(out.map(_.getLong(2)).toSeq === Seq(1L, 0L))
  }

  test("Funnel transitions count ordered (prev, next) pairs per user") {
    val events = Seq(
      (1L, "a", ts("2024-01-01 10:00:00"), 1L),
      (1L, "b", ts("2024-01-01 10:01:00"), 2L),
      (1L, "a", ts("2024-01-01 10:02:00"), 3L),
      (2L, "a", ts("2024-01-01 10:00:00"), 4L),
      (2L, "b", ts("2024-01-01 10:01:00"), 5L)
    ).toDF("user_id", "event_type", "ts", "event_id")
    val out = Funnel.transitions(events, "user_id", "event_type", "ts",
        "event_id").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(out === Map(("a", "b") -> 2L, ("b", "a") -> 1L))
  }

  test("TimeSeries resampleDaily zero-fills interior gaps only") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 15:00:00")), // same day: counts as 2
      (1L, ts("2024-01-03 10:00:00")), // Jan 2 missing -> zero-filled
      (2L, ts("2024-02-05 09:00:00"))  // single-day key: no scaffold rows
    ).toDF("user_id", "ts")
    val out = TimeSeries.resampleDaily(events, "user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out === Map(
      (1L, "2024-01-01") -> 2L, (1L, "2024-01-02") -> 0L,
      (1L, "2024-01-03") -> 1L, (2L, "2024-02-05") -> 1L))
    // r12: groupBy keeps a NULL-key group and the scaffold emits its
    // days — the fill join must be NULL-SAFE, or it fabricates
    // n_events=0 for every day of the group while the real counts
    // silently vanish
    val withNull = events.union(Seq(
      (null.asInstanceOf[java.lang.Long], ts("2024-03-01 10:00:00")),
      (null.asInstanceOf[java.lang.Long], ts("2024-03-01 11:00:00")))
      .toDF("user_id", "ts"))
    val nulls = TimeSeries.resampleDaily(withNull, "user_id", "ts")
      .filter(col("user_id").isNull).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(nulls === Map("2024-03-01" -> 2L),
      "the NULL-key group's true count must survive the fill join")
  }

  test("TimeSeries rollingDailySum RANGE frame ages values out across gaps") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 10.0),
      (1L, ts("2024-01-03 10:00:00"), 5.0),
      // 9 days later: the 7-day window no longer contains Jan 1/3 — a ROWS
      // frame (which just takes 2 preceding rows) would wrongly keep both
      (1L, ts("2024-01-12 10:00:00"), 2.0)
    ).toDF("user_id", "ts", "value")
    val out = TimeSeries.rollingDailySum(events, "user_id", "ts", "value", 7)
      .collect().map(r => r.getString(1) -> r.getDouble(3)).toMap
    assert(out === Map("2024-01-01" -> 10.0, "2024-01-03" -> 15.0,
      "2024-01-12" -> 2.0))
  }

  test("Funnel sessionPaths splits on the gap and orders paths in time") {
    val events = Seq(
      (1L, "a", ts("2024-01-01 10:00:00"), 1L),
      (1L, "b", ts("2024-01-01 10:10:00"), 2L), // same session: a>b
      (1L, "a", ts("2024-01-01 12:00:00"), 3L), // > 30 min gap: new session
      (2L, "a", ts("2024-01-01 10:00:00"), 4L),
      (2L, "b", ts("2024-01-01 10:05:00"), 5L)
    ).toDF("user_id", "event_type", "ts", "event_id")
    val out = Funnel.sessionPaths(events, "user_id", "event_type", "ts",
        "event_id").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq === Seq(("a>b", 2L), ("a", 1L)))
  }

  test("TimeSeries scd2 collapses consecutive runs into validity intervals") {
    val events = Seq(
      (1L, "A", ts("2024-01-01 10:00:00"), 1L),
      (1L, "A", ts("2024-01-01 11:00:00"), 2L), // same run
      (1L, "B", ts("2024-01-01 12:00:00"), 3L), // change
      (1L, "A", ts("2024-01-01 13:00:00"), 4L), // A again: NEW run
      (2L, "C", ts("2024-01-01 09:00:00"), 5L)
    ).toDF("user_id", "event_type", "ts", "event_id")
    val out = TimeSeries.scd2(events, "user_id", "ts", "event_id",
        "event_type")
      .orderBy("user_id", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2), Option(r.getTimestamp(3)), r.getLong(4)))
    assert(out.length === 4)
    assert(out(0) === (1L, "A", ts("2024-01-01 10:00:00"),
      Some(ts("2024-01-01 12:00:00")), 2L))
    assert(out(1) === (1L, "B", ts("2024-01-01 12:00:00"),
      Some(ts("2024-01-01 13:00:00")), 1L))
    assert(out(2) === (1L, "A", ts("2024-01-01 13:00:00"), None, 1L))
    assert(out(3) === (2L, "C", ts("2024-01-01 09:00:00"), None, 1L))
  }

  test("scd2 preserves null attribute states as their own intervals") {
    // the old lag =!= attr flag evaluated to null for a null state,
    // silently merging it into the preceding run — wrong history
    val events = Seq(
      (1L, Some("A"), ts("2024-01-01 10:00:00"), 1L),
      (1L, None, ts("2024-01-01 11:00:00"), 2L), // null STATE, own run
      (1L, Some("A"), ts("2024-01-01 12:00:00"), 3L), // back to A: new run
      (2L, None, ts("2024-01-01 09:00:00"), 4L), // first row null
      (2L, None, ts("2024-01-01 10:00:00"), 5L) // same null run
    ).toDF("user_id", "event_type", "ts", "event_id")
    val out = TimeSeries.scd2(events, "user_id", "ts", "event_id",
        "event_type")
      .orderBy("user_id", "valid_from").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        r.getTimestamp(2), Option(r.getTimestamp(3)), r.getLong(4)))
    assert(out.length === 4)
    assert(out(0) === (1L, Some("A"), ts("2024-01-01 10:00:00"),
      Some(ts("2024-01-01 11:00:00")), 1L))
    assert(out(1) === (1L, None, ts("2024-01-01 11:00:00"),
      Some(ts("2024-01-01 12:00:00")), 1L))
    assert(out(2) === (1L, Some("A"), ts("2024-01-01 12:00:00"), None, 1L))
    assert(out(3) === (2L, None, ts("2024-01-01 09:00:00"), None, 2L))
  }

  test("OnlineStats registers as a SQL UDAF and matches builtins") {
    spark.udf.register("graft_welford",
      org.apache.spark.sql.functions.udaf(OnlineStats))
    Seq((1, 2.0), (1, 4.0), (1, 6.0), (2, 10.0))
      .toDF("k", "v").createOrReplaceTempView("graft_welford_v")
    val out = spark.sql(
      """SELECT k, graft_welford(v) AS s, avg(v) AS a, var_pop(v) AS vp
        |FROM graft_welford_v GROUP BY k""".stripMargin)
      .collect().map { r =>
        val s = r.getStruct(1)
        (r.getInt(0), s.getLong(0), s.getDouble(1), s.getDouble(2),
          r.getDouble(2), r.getDouble(3))
      }.sortBy(_._1)
    out.foreach { case (_, _, mean, variance, a, vp) =>
      assert(math.abs(mean - a) < 1e-9)
      assert(math.abs(variance - vp) < 1e-9)
    }
    assert(out(0)._2 === 3L && out(1)._2 === 1L)
  }

  test("tableFingerprint is row-order/partitioning invariant, content sensitive") {
    import graft.quality.Expectations.tableFingerprint
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, null: String, 3.5))
      .toDF("k", "s", "v")
    def fp(d: org.apache.spark.sql.DataFrame) =
      tableFingerprint(d, Seq("k", "s", "v")).collect()(0)
        .getLong(1)
    val base = fp(df)
    assert(fp(df.repartition(7)) === base)
    assert(fp(df.orderBy(col("v").desc)) === base)
    // any content change moves the fingerprint
    assert(fp(df.withColumn("v",
      when(col("k") === 1L, 1.6).otherwise(col("v")))) !== base)
    // null and empty string hash differently (chr(2) sentinel)
    val withEmpty = Seq((3L, "", 3.5)).toDF("k", "s", "v")
    val withNull = Seq((3L, null: String, 3.5)).toDF("k", "s", "v")
    assert(fp(withEmpty) !== fp(withNull))
  }

  test("scd2 invariants hold on random event sequences (seeded)") {
    val rnd = new scala.util.Random(99)
    val t0 = ts("2024-01-01 10:00:00").getTime
    val events = (1 to 800).map { i =>
      (rnd.nextInt(12).toLong, // user
        ('A' + rnd.nextInt(3)).toChar.toString, // attr
        new java.sql.Timestamp(t0 + i * 1000L), i.toLong)
    }.toDF("user_id", "event_type", "ts", "event_id")
    val out = TimeSeries.scd2(events, "user_id", "ts", "event_id",
        "event_type")
      .orderBy("user_id", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
        Option(r.getTimestamp(3)), r.getLong(4)))
    // run counts re-add to the corpus size
    assert(out.map(_._5).sum === 800L)
    out.groupBy(_._1).foreach { case (_, runs) =>
      runs.sliding(2).foreach {
        case Array(a, b) =>
          // intervals tile: this run ends exactly where the next begins
          assert(a._4.contains(b._3))
          // consecutive runs differ in attribute (else they'd be one run)
          assert(a._2 !== b._2)
        case _ =>
      }
      // only the key's last interval is open
      assert(runs.init.forall(_._4.isDefined) && runs.last._4.isEmpty)
    }
  }

  test("Funnel retention buckets users by first-event week") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00")), // Monday, cohort week 1
      (1L, ts("2024-01-09 10:00:00")), // week offset 1
      (1L, ts("2024-01-22 10:00:00")), // week offset 3 (week 2 skipped)
      (2L, ts("2024-01-10 10:00:00"))  // cohort week of Jan 8
    ).toDF("user_id", "ts")
    val out = Funnel.retention(events, "user_id", "ts").collect()
      .map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap
    assert(out === Map(
      ("2024-01-01", 0) -> 1L, ("2024-01-01", 1) -> 1L,
      ("2024-01-01", 3) -> 1L, ("2024-01-08", 0) -> 1L))
  }

  test("scd2Lookup picks the version containing each fact timestamp") {
    import graft.ops.TimeSeries
    val events = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "A"),
      (1L, ts("2024-01-03 00:00:00"), 2L, "B"),
      (1L, ts("2024-01-05 00:00:00"), 3L, "A")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val dim = TimeSeries.scd2(events, "user_id", "ts", "event_id",
      "event_type")
    val facts = Seq(
      (10L, 1L, ts("2024-01-02 23:59:59")), // last instant of version A
      (11L, 1L, ts("2024-01-03 00:00:00")), // boundary: B starts inclusive
      (12L, 1L, ts("2024-01-09 00:00:00"))  // open-ended current version
    ).toDF("fact_id", "user_id", "ts")
    val out = TimeSeries.scd2Lookup(facts, dim, "user_id", "ts")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out === Map(10L -> "A", 11L -> "B", 12L -> "A"))
  }

  test("scd2Lookup plans as a hash join with residual, not a nested loop") {
    import graft.ops.TimeSeries
    val events = Util.table(spark, "/root/testdata/sf0.001", "events")
    val dim = TimeSeries.scd2(events, "user_id", "ts", "event_id",
      "event_type")
    val out = TimeSeries.scd2Lookup(
      events.select(col("event_id"), col("user_id"), col("ts")),
      dim, "user_id", "ts")
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"interval residual must ride the equi-join:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"))
  }

  test("Profile: one-pass column stats with nulls, strings, timestamps") {
    import graft.quality.Profile
    val df = Seq(
      (Some(1L), Some("b"), Some("2024-01-02 00:00:00")),
      (Some(5L), None, Some("2024-01-01 00:00:00")),
      (None, Some("a"), None),
      (Some(5L), Some("c"), Some("2024-01-03 00:00:00"))
    ).toDF("n", "s", "t_raw")
      .withColumn("t", col("t_raw").cast("timestamp")).drop("t_raw")
    val out = Profile.profile(df, Seq("n", "s", "t")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("n").getLong(1) === 4L && out("n").getLong(2) === 1L)
    assert(out("n").getLong(3) === 2L) // distinct of {1, 5, 5}
    assert(out("n").getDouble(4) === 1.0 && out("n").getDouble(5) === 5.0)
    assert(out("s").getString(6) === "a" && out("s").getString(7) === "c")
    assert(out("s").isNullAt(4) && out("s").isNullAt(5))
    // timestamp ends as epoch micros
    val day = 86400L * 1000000L
    assert(out("t").getDouble(5) - out("t").getDouble(4) === (2 * day).toDouble)
    // approx path keeps the same shape
    val approx = Profile.profile(df, Seq("n", "s"), exactDistinct = false)
    assert(approx.columns.toSeq === out("n").schema.fieldNames.toSeq)
    assert(approx.count() === 2L)
    // histogram: fixed-width buckets, nulls dropped
    val h = Profile.histogram(
        Seq(Some(0.5), Some(9.9), Some(10.0), None).toDF("v"), "v", 10.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h === Map(0L -> 2L, 1L -> 1L))
  }

  test("Profile: HLL++ estimates within 5% of exact; Expand guard fires") {
    import graft.quality.Profile
    // high-cardinality columns where an HLL error would actually show:
    // 50k distinct longs, 10k distinct strings, 500 distinct ints
    val df = spark.range(50000L).select(col("id"),
      concat(lit("s"), (col("id") % 10000)).as("s"),
      (col("id") % 500).cast("int").as("grp"))
    val cols = Seq("id", "s", "grp")
    def nd(exact: Boolean) =
      Profile.profile(df, cols, exactDistinct = exact).collect()
        .map(r => r.getString(0) -> r.getLong(3)).toMap
    val (ex, ap) = (nd(true), nd(false))
    assert(ex === Map("id" -> 50000L, "s" -> 10000L, "grp" -> 500L))
    for ((c, exact) <- ex) {
      val rel = math.abs(ap(c).toDouble - exact) / exact
      assert(rel <= 0.05, s"$c: HLL++ ${ap(c)} vs exact $exact ($rel)")
    }
    // wide-table routing: the default AUTO-routes 65 columns to the HLL
    // single pass (<= 2 plan leaves, vs 65 union scan branches exact);
    // the EXPLICIT exact call still refuses with a steer, and the
    // override (exactDistinct = true + raised cap) still forces exact
    val wide = spark.range(10L)
      .select((0 until 65).map(i => (col("id") + i).as(s"c$i")): _*)
    val wideCols = (0 until 65).map(i => s"c$i")
    val auto = Profile.profile(wide, wideCols)
    assert(auto.queryExecution.optimizedPlan.collectLeaves().size <= 2,
      "65-column default profile must plan one pass, not 65 branches")
    assert(auto.count() === 65L)
    // estimates are MARKED: downstream consumers can tell HLL estimates
    // from exact counts via the column metadata flag
    assert(auto.schema("n_distinct").metadata
        .contains(Profile.ApproxDistinctMetaKey) &&
      auto.schema("n_distinct").metadata
        .getBoolean(Profile.ApproxDistinctMetaKey),
      "auto-routed HLL distincts must carry the approx marker")
    assert(!Profile.profile(df, cols).schema("n_distinct").metadata
        .contains(Profile.ApproxDistinctMetaKey),
      "exact distincts must NOT carry the approx marker")
    val e = intercept[IllegalArgumentException] {
      Profile.profile(wide, wideCols, exactDistinct = true)
    }
    assert(e.getMessage.contains("exactDistinct = false"))
    assert(Profile.profile(wide, wideCols, exactDistinct = false)
      .count() === 65L)
    assert(Profile.profile(wide, wideCols, exactDistinct = true,
      maxExactDistinctCols = 65).count() === 65L)
    // and the narrow default stays exact: distincts are true counts
    assert(Profile.profile(df, cols).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap ===
      Map("id" -> 50000L, "s" -> 10000L, "grp" -> 500L))
  }

  test("TableDiff: added/removed/changed with null-safe compares") {
    import graft.quality.TableDiff
    val oldDf = Seq(
      (1L, Some("a"), Some(1.0)), // unchanged
      (2L, Some("b"), Some(2.0)), // changed value
      (3L, None, Some(3.0)),      // changed: null -> value
      (4L, Some("d"), None)       // removed
    ).toDF("k", "s", "v")
    val newDf = Seq(
      (1L, Some("a"), Some(1.0)),
      (2L, Some("B"), Some(2.0)),
      (3L, Some("c"), Some(3.0)),
      (5L, Some("e"), Some(5.0))  // added
    ).toDF("k", "s", "v")
    val out = TableDiff.diff(oldDf, newDf, Seq("k")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(2L -> "changed", 3L -> "changed",
      4L -> "removed", 5L -> "added"))
    intercept[IllegalArgumentException] {
      TableDiff.diff(oldDf, newDf.withColumnRenamed("v", "w"), Seq("k"))
    }
  }

  test("events loader accepts UTC-equivalent zones, refuses shifting ones") {
    // the NTZ→LTZ cast preserves instants only under UTC rules; zone
    // SPELLINGS differ by platform ("UTC" when set explicitly, "Etc/UTC"
    // as a system default) and must all pass — a shifting zone must not
    val sf = "/root/testdata/sf0.001"
    for (tz <- Seq("UTC", "Etc/UTC", "GMT")) {
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.session.timeZone", tz)
      assert(Util.table(s2, sf, "events").limit(1).count() === 1L, tz)
    }
    val bad = spark.newSession()
    bad.conf.set("spark.sql.session.timeZone", "America/New_York")
    val e = intercept[IllegalArgumentException] {
      Util.table(bad, sf, "events")
    }
    assert(e.getMessage.contains("UTC"))
  }
}
