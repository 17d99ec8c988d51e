package graft.ops

import graft.Util.q
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** J1/F1 — Levenshtein similarity (theta) join
  * (reference varinfo-update.R:99-105: `stringdist_left_join`, method "lv",
  * `max_dist` config at :15, emitted `distance_col`).
  *
  * Physical strategy, in order of scale:
  *  1. `leftJoin` — broadcast hash join on a length band: the right side
  *     is replicated once per admissible partner length in [len-d, len+d]
  *     (levenshtein >= |len(a)-len(b)|) and broadcast, so each left row
  *     probes only its own band instead of looping over every right row.
  *     Each band candidate then meets the remaining conjuncts in cost
  *     order: the character-class signature bound ([[sigDistance]] <= 2d),
  *     then Spark's early-exit 3-arg `levenshtein(l, r, threshold)`, which
  *     abandons a pair as soon as the running distance exceeds the bound.
  *     Length and signature are computed once per ROW on each side. LEFT
  *     semantics come from the join itself (no separate padding pass).
  *     The streamed left side's partitioning sets the join's parallelism
  *     (one task per left partition). Right for a small (broadcastable)
  *     right side — the reference's case (~260 rows).
  *  2. `blockedInnerJoin` — the same length band and prefilters as an
  *     INNER shuffle join keyed on an int, so neither side has to fit in
  *     memory and both sides scale out. Replication factor is only (2d+1).
  */
object SimilarityJoin {

  /** Sound candidate prefilter: edit distance is >= length difference. */
  def lengthBand(l: Column, r: Column, maxDist: Int): Column =
    abs(length(l) - length(r)) <= maxDist

  /** Packed character-class count signature (r17, guide §1.2 "per-task
    * work"): 8 disjoint character classes, each counted with a saturating
    * 8-bit field, packed into one LONG per row. Computed ONCE per row
    * (O(len) — 8 codegen regexp passes), it buys a per-PAIR filter that
    * is ~two orders of magnitude cheaper than the bounded-DP verify:
    * every unit edit changes at most two class counts by 1 each, so
    *   L1(classCounts(a), classCounts(b)) <= 2 · lev(a, b),
    * and saturation only shrinks per-class deltas (|min(x,255) −
    * min(y,255)| <= |x − y|), keeping the bound sound. A candidate pair
    * with [[sigDistance]] > 2·maxDist therefore provably has
    * lev > maxDist and is dropped BEFORE the DP ever runs; no true pair
    * is ever lost (PropertySpec pins the bound on random pairs). The
    * classes are fixed literal ranges (last one catches everything
    * outside [a-z], including uppercase/digits/space), so the filter is
    * alphabet-agnostic. */
  private val SigClasses = Seq(
    "[a-d]", "[e-h]", "[i-l]", "[m-p]", "[q-t]", "[u-x]", "[y-z]", "[^a-z]")

  /** r18: the signature is a NATIVE one-pass expression
    * ([[graft.catalyst.ClassCountSig]]). The original 8-regexp
    * composition compiled to eight `regexp_extract_all` passes per row,
    * each materializing a match array just to count it — profiled at
    * ~11 executor-CPU-seconds PER JOIN SIDE on q_similarity_blocked_full
    * at sf0.1, dwarfing the DP verify it exists to guard. The native
    * form is value-identical (OpsSpec pins equality on random unicode
    * strings incl. saturation), so every soundness argument and the
    * [[sigDistance]] bound carry over unchanged. */
  def classCountSignature(c: Column): Column = {
    import org.apache.spark.sql.graft.GraftSql
    GraftSql.column(graft.catalyst.ClassCountSig(GraftSql.expression(c)))
  }

  /** The original regexp composition, kept as the test reference for
    * the native expression's value-equality pin (OpsSpec). */
  private[graft] def classCountSignatureRegexp(c: Column): Column =
    SigClasses.zipWithIndex.map { case (cls, i) =>
      shiftleft(least(regexp_count(c, lit(cls)), lit(255)).cast("long"),
        8 * i)
    }.reduce(_ + _)

  /** L1 distance between two packed signatures — a sound lower bound on
    * 2·lev (see [[classCountSignature]]). Pure shift/mask arithmetic:
    * ~50 codegen ops per pair vs the DP's O(d·len) with allocation. */
  def sigDistance(sa: Column, sb: Column): Column =
    (0 until SigClasses.size).map { i =>
      abs(shiftright(sa, 8 * i).bitwiseAND(lit(255L)) -
        shiftright(sb, 8 * i).bitwiseAND(lit(255L)))
    }.reduce(_ + _)

  /** Early-exit bounded distance: value in [0, maxDist], or -1 if above. */
  def boundedDistance(l: Column, r: Column, maxDist: Int): Column =
    levenshtein(l, r, maxDist)

  /** Full join predicate for distance <= maxDist. */
  def condition(l: Column, r: Column, maxDist: Int): Column =
    lengthBand(l, r, maxDist) && boundedDistance(l, r, maxDist) >= 0

  /** Theta left join: one output row per qualifying (left, right) pair plus
    * the distance; left rows with no qualifying partner survive with nulls
    * (distance null too), mirroring `stringdist_left_join`. The right side
    * is broadcast (2d+1 replicas per row) and the join runs one task per
    * partition of `left`, so a caller with a single-partition left side
    * should repartition it first. Its working columns mark the plan as a
    * kernel plan, so [[graft.catalyst.LevJoinKernelRule]] leaves it alone:
    * for two large sides call [[autoLeftJoin]] instead. */
  def leftJoin(left: DataFrame, right: DataFrame,
               leftKey: String, rightKey: String, maxDist: Int,
               distCol: String = "string_distance"): DataFrame = {
    // same contract as blockedLeftJoin, enforced equally: a shared name
    // would come through as ambiguous duplicate columns that break the
    // caller later, and the two kernels must stay interchangeable
    val shared = left.columns.toSet.intersect(right.columns.toSet)
    require(shared.isEmpty,
      s"leftJoin needs disjoint column names; rename ${shared.mkString(", ")} first")
    bandJoin(left, right, leftKey, rightKey, maxDist, distCol, "left")
  }

  /** Run a similarity kernel over the DISTINCT key values of both sides,
    * then expand back to full rows by two equi-joins on the key value.
    * When keys repeat r× on average, the kernel's pair space shrinks r² —
    * the standard move for theta joins over low-cardinality keys (short
    * prefixes, titles, names). Output rows are identical to running the
    * kernel directly: each matched (value_l, value_r) pair expands to
    * every row combination carrying those values. Null keys match nothing
    * on either path. */
  private def viaDistinctKeys(left: DataFrame, right: DataFrame,
                              leftKey: String, rightKey: String,
                              distCol: String,
                              kernel: (DataFrame, DataFrame) => DataFrame)
      : DataFrame = {
    require(leftKey != rightKey,
      s"dedupKeys needs distinct key column names, got '$leftKey' twice")
    // the final select resolves by bare name across three joined frames —
    // any shared name (or a column equal to distCol) would be an
    // AMBIGUOUS_REFERENCE deep in analysis; fail loudly up front instead
    locally {
      val all = left.columns.toSeq ++ right.columns :+ distCol
      val dup = all.diff(all.distinct).distinct
      require(dup.isEmpty,
        s"dedupKeys needs globally unique column names; rename ${dup.mkString(", ")} first")
    }
    val dl = left.select(qc(leftKey)).distinct()
    val dr = right.select(qc(rightKey)).distinct()
    val core = kernel(dl, dr) // columns: leftKey, rightKey, distCol
    left.join(core, Seq(leftKey)).join(right, Seq(rightKey))
      .select((left.columns.toIndexedSeq ++ right.columns :+ distCol).map(qc): _*)
  }

  /** Banded inner variant for large×large joins: equi-join on exact length
    * (right side exploded over its 2d+1 admissible partner lengths), then
    * verify the true bounded distance. Each qualifying pair matches exactly
    * once because the band value equals the left string's length.
    * `dedupKeys = true` routes through [[viaDistinctKeys]] — use it when
    * key values repeat across rows. */
  def blockedInnerJoin(left: DataFrame, right: DataFrame,
                       leftKey: String, rightKey: String, maxDist: Int,
                       distCol: String = "string_distance",
                       dedupKeys: Boolean = false): DataFrame = {
    if (dedupKeys)
      return viaDistinctKeys(left, right, leftKey, rightKey, distCol,
        (dl, dr) => blockedInnerJoin(dl, dr, leftKey, rightKey, maxDist,
          distCol))
    bandJoin(left, right, leftKey, rightKey, maxDist, distCol, "inner")
  }

  /** The length-banded join behind [[leftJoin]] ("left": right side
    * broadcast, unmatched lefts padded by the join itself) and
    * [[blockedInnerJoin]] ("inner": a shuffle join). The left side carries
    * its length as the band key; the right side is exploded over its 2d+1
    * admissible partner lengths, so each qualifying pair matches exactly
    * once (the band value equals the left string's length). A null key
    * has a null length and matches nothing. */
  private def bandJoin(left: DataFrame, right: DataFrame,
                       leftKey: String, rightKey: String, maxDist: Int,
                       distCol: String, joinType: String): DataFrame = {
    val band = "__graft_len_band"
    val sigL = "__graft_sig_l"
    val sigR = "__graft_sig_r"
    locally {
      val reserved = (left.columns ++ right.columns)
        .filter(c => c == band || c == sigL || c == sigR)
      require(reserved.isEmpty,
        s"input may not carry internal working columns: ${reserved.mkString(", ")}")
    }
    require(!left.columns.contains(distCol) &&
      !right.columns.contains(distCol),
      s"input already carries a column named '$distCol' — withColumn " +
        "would silently REPLACE it; pass a different distCol")
    // length and signature once per ROW (the signature BEFORE the 2d+1
    // band explode — once per row, not once per replica)
    val l = left.withColumn(band, length(qc(leftKey)))
      .withColumn(sigL, classCountSignature(qc(leftKey)))
      .alias("sj_l")
    val r0 = right
      .withColumn(sigR, classCountSignature(qc(rightKey)))
      .withColumn(band,
        explode(sequence(length(qc(rightKey)) - maxDist,
                         length(qc(rightKey)) + maxDist)))
    val r = (if (joinType == "left") broadcast(r0) else r0).alias("sj_r")
    val lk = col(s"sj_l.${q(leftKey)}")
    val rk = col(s"sj_r.${q(rightKey)}")
    // the verify conjuncts in cost order (r17): the ~50-op
    // signature bound runs first and provably eliminates pairs with
    // lev > maxDist, so the O(d·len) bounded DP only runs on signature
    // survivors. The projection recomputes the DP for TRUE survivors
    // only: a LEFT join needs the predicate at join time to decide
    // null-padding, and Spark cannot project a join-condition
    // intermediate. Survivors are a vanishing fraction of candidates.
    val dist = boundedDistance(lk, rk, maxDist)
    l.join(r, col(s"sj_l.$band") === col(s"sj_r.$band") &&
        sigDistance(col(s"sj_l.$sigL"), col(s"sj_r.$sigR")) <=
          lit(2L * maxDist) &&
        dist >= 0, joinType)
      .withColumn(distCol,
        if (joinType == "left") when(rk.isNotNull, dist) else dist)
      .drop(band, sigL, sigR)
  }

  /** Left-join semantics on top of the blocked kernel: inner matches plus
    * never-matched left rows (null right columns / null distance). */
  def blockedLeftJoin(left: DataFrame, right: DataFrame,
                      leftKey: String, rightKey: String, maxDist: Int,
                      distCol: String = "string_distance"): DataFrame = {
    // shared names would surface only as a unionByName AnalysisException
    // (duplicate columns) after the join — fail loudly with the remedy
    locally {
      val shared = left.columns.toSet.intersect(right.columns.toSet)
      require(shared.isEmpty,
        s"blockedLeftJoin needs disjoint column names; rename ${shared.mkString(", ")} first")
    }
    val inner = blockedInnerJoin(left, right, leftKey, rightKey, maxDist, distCol)
    leftify(inner, left, right, leftKey, distCol)
  }

  /** Left-join tail shared by [[blockedLeftJoin]] and [[autoLeftJoin]]:
    * inner matches plus never-matched left rows padded with null right
    * columns / null distance. The matched-key side is renamed to a
    * unique name: it shares lineage with `left`, and Spark's
    * ambiguous-self-join repair re-parses same-name references — which
    * breaks dotted column names like QuestionText.2023. Null left keys
    * match nothing in every kernel, so they surface here as padded rows
    * — exactly SQL left-join semantics for a null-valued theta
    * condition. */
  private def leftify(inner: DataFrame, left: DataFrame, right: DataFrame,
                      leftKey: String, distCol: String): DataFrame = {
    val matchedKeys = inner.select(qc(leftKey).as("__graft_mk")).distinct()
    val unmatched = left.join(matchedKeys,
        qc(leftKey) <=> col("__graft_mk"), "left_anti")
    val rightCols = right.columns.filterNot(left.columns.contains)
    val padded = rightCols.foldLeft(unmatched) { (df, c) =>
        df.withColumn(c, lit(null))
      }
      .withColumn(distCol, lit(null).cast("int"))
    inner.unionByName(padded, allowMissingColumns = true)
  }

  /** [[leftify]] over a PRECOMPUTED inner kernel result — the Catalyst
    * rule's building block (it has already run the chooser on the same
    * frames). Enforces the same disjoint-names contract as the public
    * left-join surfaces. */
  private[graft] def leftifyInner(inner: DataFrame, left: DataFrame,
      right: DataFrame, leftKey: String, distCol: String): DataFrame = {
    val shared = left.columns.toSet.intersect(right.columns.toSet)
    require(shared.isEmpty,
      s"left-join padding needs disjoint column names; rename ${shared.mkString(", ")} first")
    leftify(inner, left, right, leftKey, distCol)
  }

  /** Left-join semantics on top of the AUTO-SELECTED inner kernel (the
    * reference's `stringdist_left_join` shape at corpus scale): the
    * histogram-driven chooser picks blocked vs chunked for the inner
    * match set, then never-matched left rows pad with nulls.
    *
    * Unlike [[blockedLeftJoin]], column names may OVERLAP across the
    * sides (the reference's own J1 shape can carry overlapping names
    * after a rename drift): overlapping right columns are aliased to
    * reserved names internally, the kernel + padding run on the disjoint
    * frames, and the original names are restored positionally — so the
    * output keeps both same-named columns (left's first, right's after),
    * exactly like a SQL join of two tables sharing a name. Each side's
    * own names must still be unique, and `distCol` must not collide with
    * either side (it could not be restored positionally otherwise). */
  def autoLeftJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String, maxDist: Int,
                   distCol: String = "string_distance",
                   sampleFraction: Double = 1.0): DataFrame = {
    val shared = left.columns.toSet.intersect(right.columns.toSet)
    if (shared.isEmpty) {
      val inner = autoInnerJoin(left, right, leftKey, rightKey, maxDist,
        distCol, dedupKeys = false, sampleFraction)
      return leftify(inner, left, right, leftKey, distCol)
    }
    require(left.columns.distinct.length == left.columns.length &&
      right.columns.distinct.length == right.columns.length,
      "autoLeftJoin with overlapping names needs each side's own names " +
        "unique (within-side duplicates cannot be re-aliased by name)")
    require(!left.columns.contains(distCol) && !right.columns.contains(distCol),
      s"autoLeftJoin: distCol '$distCol' collides with an input column")
    // alias the overlapping RIGHT columns to reserved names, run the
    // disjoint-name pipeline, restore the original names positionally
    val renamed = right.columns.map(c => if (shared(c)) s"gsql_rn_$c" else c)
    require(!left.columns.exists(_.startsWith("gsql_rn_")) &&
      !right.columns.exists(_.startsWith("gsql_rn_")),
      "input may not carry reserved 'gsql_rn_' column names")
    val r2 = right.toDF(renamed.toIndexedSeq: _*)
    val rk2 = if (shared(rightKey)) s"gsql_rn_$rightKey" else rightKey
    val inner = autoInnerJoin(left, r2, leftKey, rk2, maxDist, distCol,
      dedupKeys = false, sampleFraction)
    leftify(inner, left, r2, leftKey, distCol)
      .toDF(left.columns.toIndexedSeq ++ right.columns :+ distCol: _*)
  }

  /** Chunk-filter (PassJoin-family) inner join, the sharper scale kernel:
    * split every left string of length L into d+1 contiguous chunks; if
    * lev(l, r) <= d then, by pigeonhole over the <= d edit operations, at
    * least one chunk survives untouched and appears in r as an exact
    * substring shifted by at most d positions. Candidates therefore come
    * from an equi-join on (chunk string, left length, chunk index) between
    * left chunks and right substrings generated only at the admissible
    * (length, position) combos — then the true bounded distance verifies.
    *
    * The distinct left lengths are collected driver-side (metadata-scale:
    * bounded by max string length) to enumerate the combos. Replication is
    * O(lengths-in-band × (d+1) × (2d+1)) substrings per right row — far
    * more selective than pure length banding on skewed-length data.
    * Lefts shorter than d+1 chars fall back to the length-band kernel.
    *
    * Candidates are generated and deduplicated at (left value, right
    * value) granularity — the candidate shuffle carries only hashes — and
    * payload rows re-attach afterwards, so every row combination carrying
    * a matched value pair is emitted, exactly the naive theta-join
    * multiplicity. `dedupKeys = true` routes through [[viaDistinctKeys]] —
    * use it when key values repeat across rows. */
  def chunkedInnerJoin(left: DataFrame, right: DataFrame,
                       leftKey: String, rightKey: String, maxDist: Int,
                       distCol: String = "string_distance",
                       dedupKeys: Boolean = false): DataFrame = {
    if (dedupKeys)
      return viaDistinctKeys(left, right, leftKey, rightKey, distCol,
        (dl, dr) => chunkedInnerJoin(dl, dr, leftKey, rightKey, maxDist,
          distCol))
    locally {
      val reserved = (left.columns ++ right.columns).filter(_.startsWith("__g"))
      require(reserved.isEmpty,
        s"input may not carry internal working columns: ${reserved.mkString(", ")}")
      require(!left.columns.contains(distCol) &&
        !right.columns.contains(distCol),
        s"input already carries a column named '$distCol' — withColumn " +
          "would silently REPLACE it; pass a different distCol")
    }
    val d = maxDist
    // NULL keys qualify for no pair (same as the sibling kernels) — and
    // must be dropped BEFORE the collect, where a null length row would NPE
    val allLens = left.select(length(qc(leftKey)).as("len")).distinct()
      .filter(col("len").isNotNull)
      .collect().map(_.getInt(0)).sorted
    val lens = allLens.filter(_ >= d + 1)
    val chunkSpec: Map[Int, Seq[(Int, Int)]] = lens.map { l =>
      val base = l / (d + 1); val rem = l % (d + 1)
      val sizes = (0 until (d + 1)).map(i => base + (if (i < rem) 1 else 0))
      val starts = sizes.scanLeft(0)(_ + _).dropRight(1)
      l -> starts.zip(sizes).toSeq
    }.toMap

    // Combo tables are tiny LENGTH-KEYED DataFrames broadcast to both
    // sides, so a row only ever meets the combos admissible for its own
    // length. (An earlier shape exploded one constant array of ALL combos
    // per row and filtered after — at ~500 distinct lengths that is
    // |combos| ≈ lengths × (d+1) × (2d+1) ≈ 20k exploded rows per input
    // row, >100M intermediates on a 5k-doc corpus; the length-keyed
    // broadcast join generates only the admissible ones.)
    import left.sparkSession.implicits._

    // left side: one row per chunk — (chunk string, L, i) key. Each left
    // row equi-joins to exactly the d+1 chunk combos of its length.
    val leftCombos = chunkSpec.toSeq.flatMap { case (l, chunks) =>
      chunks.zipWithIndex.map { case ((start, size), i) => (l, i, start, size) }
    }
    val leftComboDf = leftCombos.toDF("__gll", "__gci", "__gpos", "__gsize")
    // The candidate join carries ONLY hashes: the chunk as xxhash64 (join
    // key) and the full key string as xxhash64 (row surrogate) — candidate
    // shuffle rows are a few longs instead of the document text, and the
    // payloads re-attach AFTER the distinct via key-hash equi-joins. A
    // 64-bit collision (chunk or surrogate) can only ADD a candidate pair,
    // which the exact bounded-distance verify kills — equal strings always
    // hash equal, so no true pair is ever lost.
    val la = left
      .join(broadcast(leftComboDf), length(qc(leftKey)) === col("__gll"))
      .select(xxhash64(qc(leftKey)).as("__ga"),
        xxhash64(expr(s"substring(${q(leftKey)}, __gpos + 1, __gsize)"))
          .as("__c"),
        col("__gll").as("__ll"), col("__gci").as("__ci"))

    // right side: admissible substrings for every in-band left length.
    // The length band |len(r) − L| <= d becomes an explode over the 2d+1
    // candidate L values, then an equi-join to that length's combos.
    //
    // Shift pruning (PassJoin's multi-match-aware selection): if chunk
    // [start, start+size) of the left maps UNEDITED to right position p,
    // the prefix before it needs >= |δ| edits (δ = p − start) and the
    // suffix after it >= |Δ − δ| (Δ = len(r) − L), so |δ| + |Δ − δ| <= d.
    // For fixed Δ that admits only δ ∈ [⌈(Δ−d)/2⌉, ⌊(Δ+d)/2⌋] — d+1
    // positions instead of the naive 2d+1, nearly halving the exploded
    // substring/hash volume. On top of that, enumerating only the FIRST
    // untouched chunk per pair is complete — and then the i disjoint chunk
    // spans before it each contain an edit strictly inside the prefix, so
    // prefix edits >= i and i + |Δ − δ| <= d prunes late chunks' windows
    // further (chunk d admits exactly δ = Δ). Δ is only known once the
    // right row meets the combo, so the combo table carries `start` and
    // both bounds are a filter right after the broadcast join (evaluated
    // before the substring hash).
    val rightCombos = chunkSpec.toSeq.flatMap { case (l, chunks) =>
      chunks.zipWithIndex.flatMap { case ((start, size), i) =>
        (math.max(0, start - d) to (start + d))
          .map(pos => (l, i, pos, size, start))
      }
    }
    val rightComboDf =
      rightCombos.toDF("__gll", "__gci", "__gpos", "__gsize", "__gstart")
    val delta = col("__gpos") - col("__gstart")
    val lenDiff = length(qc(rightKey)) - col("__gll")
    val rb = right
      .withColumn("__gband", explode(sequence(length(qc(rightKey)) - d,
        length(qc(rightKey)) + d)))
      .join(broadcast(rightComboDf), col("__gband") === col("__gll"))
      .filter(length(qc(rightKey)) >= col("__gpos") + col("__gsize") &&
        delta * 2 >= lenDiff - d && delta * 2 <= lenDiff + d &&
        abs(lenDiff - delta) <= lit(d) - col("__gci"))
      .select(xxhash64(qc(rightKey)).as("__gb"),
        xxhash64(expr(s"substring(${q(rightKey)}, __gpos + 1, __gsize)"))
          .as("__c"),
        col("__gll").as("__ll"), col("__gci").as("__ci"))

    val candidates = la.join(rb, Seq("__c", "__ll", "__ci"))
      .select(col("__ga"), col("__gb"))
      .distinct()
    // re-attach payload rows by key hash; every row combination carrying a
    // matched (value_l, value_r) pair appears, exactly like the naive join
    val lExp = left.withColumn("__ga", xxhash64(qc(leftKey)))
      .withColumn("__gsa", classCountSignature(qc(leftKey))).alias("cj_a")
    val rExp = right.withColumn("__gb", xxhash64(qc(rightKey)))
      .withColumn("__gsb", classCountSignature(qc(rightKey))).alias("cj_b")
    val lk = col(s"cj_a.${q(leftKey)}")
    val rk = col(s"cj_b.${q(rightKey)}")
    // pin the verify join's partition count (r17, guide §2.5/§7.2): the
    // candidate/re-attach shuffles are small in BYTES but each surviving
    // row pays an O(d·len) DP, so AQE's byte-driven coalescing folded
    // the verify stage to ONE task (measured 2×~2.2 s single-task stages
    // at sf0.1 — the second via the caller's orderBy range-sampling
    // re-execution). REPARTITION_BY_NUM is never coalesced, and the
    // co-partitioning requirement holds the rExp side at the same count,
    // so the DP runs at the session's configured shuffle parallelism.
    val verified = lExp.join(candidates, "__ga")
      .repartition(graft.Util.shufflePartitions(left.sparkSession),
        col("__gb"))
      .join(rExp, "__gb")
      .withColumn(distCol, boundedDistance(lk, rk, d))
      // signature bound FIRST (sound — see [[classCountSignature]]), so
      // the DP only runs on signature survivors; conjunct order is
      // preserved through Catalyst's filter-into-join pushdown
      .filter(sigDistance(col("__gsa"), col("__gsb")) <= lit(2L * d) &&
        col(distCol) >= 0)
      .drop("__ga", "__gb", "__gsa", "__gsb")

    // short lefts (< d+1 chars): length-band kernel on that slice. The
    // length collect above already proves whether any exist — when none
    // do (the common case), skip the branch entirely rather than explode
    // the FULL right side (2d+1)x to join a provably empty left slice
    if (!allLens.exists(_ < d + 1)) verified
    else {
      val shortLeft = left.filter(length(qc(leftKey)) < d + 1)
      val shortPart =
        blockedInnerJoin(shortLeft, right, leftKey, rightKey, d, distCol)
      verified.unionByName(shortPart)
    }
  }

  // ---------- cost-based kernel selection ----------

  /** Candidate-pair count the BLOCKED kernel would verify, computed
    * exactly from per-side length histograms (len -> row count): every
    * (left row, right row) pair within the |Δlen| <= d band survives the
    * length equi-join and pays one bounded-DP verify. This is the term
    * that goes quadratic when lengths concentrate (the skewed-corpus
    * regime): with all n rows sharing one length it is n², while a
    * uniform length spread keeps it near n × (2d+1) × rows-per-length.
    * Pure arithmetic over histograms — unit-testable without Spark. */
  def estimateBlockedPairs(histL: Map[Int, Long], histR: Map[Int, Long],
                           maxDist: Int): BigInt =
    histL.foldLeft(BigInt(0)) { case (acc, (la, cl)) =>
      val inBand = ((la - maxDist) to (la + maxDist))
        .map(lb => BigInt(histR.getOrElse(lb, 0L))).sum
      acc + BigInt(cl) * inBand
    }

  /** Generated-substring volume of the CHUNKED kernel's candidate phase:
    * each right row of length lb meets, for every distinct left length L
    * in its band (L >= d+1), d+1 chunk indexes × at most d+1 shift-pruned
    * positions. Near-linear in the input, insensitive to length skew —
    * the chunk filter's whole point. */
  def estimateChunkedSubstrings(histL: Map[Int, Long], histR: Map[Int, Long],
                                maxDist: Int): BigInt = {
    val d = maxDist
    val leftLens = histL.keySet.filter(_ >= d + 1)
    histR.foldLeft(BigInt(0)) { case (acc, (lb, cr)) =>
      val lensInBand = ((lb - d) to (lb + d)).count(leftLens.contains)
      acc + BigInt(cr) * lensInBand * (d + 1) * (d + 1)
    }
  }

  /** Kernel decision from the two estimates. A blocked candidate now pays
    * the ~50-op [[sigDistance]] check first and only signature SURVIVORS
    * pay the banded DP (r17 prefilter), so a blocked candidate's expected
    * cost fell from "one bounded DP" to "one signature compare plus a
    * vanishing DP fraction" — about the cost of one chunked substring
    * hash. [[DpVsHashCostRatio]] is that exchange rate. History: 5.0
    * through r16, calibrated pre-prefilter on the r6-shaped spread corpus
    * (pairs ≈ subs/20, blocked 3.6× faster) and the r7-shaped denser
    * corpus (pairs ≈ subs/2.5, chunked 1.6× faster). Re-measured in r17
    * WITH the prefilter on the denser corpus (the sf0.1 documents table,
    * pairs ≈ subs/2.3): blocked 1.6 s vs chunked 3.3 s — blocked now wins
    * the regime chunked used to win, so the crossover moves to
    * pairs ≈ subs (ratio 1.0). The chunk filter still wins the
    * length-skewed regime (pairs ≫ subs — its whole reason to exist),
    * which is unreachable by any per-pair prefilter. */
  val DpVsHashCostRatio: Double = 1.0
  def chooseChunked(histL: Map[Int, Long], histR: Map[Int, Long],
                    maxDist: Int): Boolean = {
    val pairs = estimateBlockedPairs(histL, histR, maxDist)
    val subs = estimateChunkedSubstrings(histL, histR, maxDist)
    // chunked wins when the DP bill (pairs × ratio, in hash-equivalents)
    // exceeds the substring-generation bill
    BigDecimal(pairs) * DpVsHashCostRatio > BigDecimal(subs)
  }

  /** Exact length histogram of a key column — one tiny aggregate (distinct
    * lengths are bounded by max string length, metadata-scale). At corpus
    * scale pass `sampleFraction < 1` to histogram a seeded sample instead;
    * counts are scaled back up so the estimates stay comparable. */
  def lengthHistogram(df: DataFrame, key: String,
                      sampleFraction: Double = 1.0): Map[Int, Long] = {
    val base =
      if (sampleFraction >= 1.0) df else df.sample(sampleFraction, seed = 42L)
    val scale = if (sampleFraction >= 1.0) 1.0 else 1.0 / sampleFraction
    base.select(length(qc(key)).as("len")).filter(col("len").isNotNull)
      .groupBy(col("len")).agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.getInt(0) -> math.max(1L, math.round(r.getLong(1) * scale)))
      .toMap
  }

  /** Pre-flight refusal for [[blockedInnerJoin]] at scale: estimate the
    * banded candidate-pair count from (sampled) length histograms and
    * fail LOUDLY — naming the fallback kernels — when it exceeds
    * `budget`. The blocked kernel's worst case is a same-length corpus,
    * where the length equi-join degenerates to the full n² cross product
    * concentrated on ONE hot join key (a single straggler shuffle
    * partition at cluster scale); the chunk filter stays near-linear
    * there, which is exactly what [[autoInnerJoin]] picks. Call this
    * before a hand-chosen blockedInnerJoin on any corpus whose length
    * distribution you don't control. */
  def requireBlockedTractable(left: DataFrame, right: DataFrame,
                              leftKey: String, rightKey: String,
                              maxDist: Int, budget: Long = 1000000000L,
                              sampleFraction: Double = 1.0): Unit = {
    val pairs = estimateBlockedPairs(
      lengthHistogram(left, leftKey, sampleFraction),
      lengthHistogram(right, rightKey, sampleFraction), maxDist)
    require(pairs <= BigInt(budget),
      s"blockedInnerJoin would verify ~$pairs candidate pairs " +
        s"(budget $budget): the length histogram concentrates rows on " +
        "few lengths, the kernel's quadratic regime. Use " +
        "chunkedInnerJoin (near-linear candidate generation) or " +
        "autoInnerJoin (cost-based choice) instead.")
  }

  /** Auto-selecting inner similarity join: histograms both key columns
    * (one cheap aggregate per side), estimates each kernel's dominant
    * cost term, and runs the cheaper kernel. Both kernels are proven
    * lossless against the same naive-theta oracle, so the choice affects
    * cost only, never results — this closes the "engine exposes two
    * kernels but makes the caller choose" gap: a length histogram is
    * exactly the statistic that predicts the blocked kernel's quadratic
    * regime, and at 100 TB the sampled histogram costs one scan of a
    * fraction of one column. */
  def autoInnerJoin(left: DataFrame, right: DataFrame,
                    leftKey: String, rightKey: String, maxDist: Int,
                    distCol: String = "string_distance",
                    dedupKeys: Boolean = false,
                    sampleFraction: Double = 1.0): DataFrame = {
    val histL = lengthHistogram(left, leftKey, sampleFraction)
    val histR = lengthHistogram(right, rightKey, sampleFraction)
    if (chooseChunked(histL, histR, maxDist))
      chunkedInnerJoin(left, right, leftKey, rightKey, maxDist, distCol,
        dedupKeys)
    else
      blockedInnerJoin(left, right, leftKey, rightKey, maxDist, distCol,
        dedupKeys)
  }

  private def qc(name: String): Column = col(q(name))
}
